package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType,
  IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Document-level deduplication operators for training-data pipelines, each
  * in its distributed-safe shape. All are generic over (id column, text
  * column); the oracle-checked `x_dedup_exact` / `x_minhash` /
  * `x_minhash_pairs` / `x_simhash` / `x_jaccard` queries pin their
  * semantics against DuckDB on the `documents` table.
  *
  * Scale notes: exact/minhash/simhash are narrow per-row transforms plus at
  * most one keyed shuffle; candidate generation always goes through LSH
  * band buckets (shuffle keyed by bucket), never an all-pairs join —
  * `jaccardPairs` is the deliberate exception, for bounded candidate sets
  * that earlier stages produced. */
object TextDedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Cross-engine 32-bit hash: md5 hex prefix as integer — the only hash
    * Spark and DuckDB compute identically, which keeps every operator here
    * oracle-checkable. */
  def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** First prime above 2^32 — keeps a*h+b (< 2^52) overflow-free in 64-bit
    * arithmetic on both engines. */
  val MinhashP = 4294967311L

  private def words(c: Column): Column = split(c, " ")

  /** The `n`-gram expression every operator here shares: consecutive
    * word windows over an already-materialised word-array column (pass a
    * COLUMN REFERENCE, never an inline split — HOF lambdas defeat
    * subexpression elimination, re-splitting per element). Yields
    * size-(n-1) fewer grams than words; callers guard `size(w) >= n`. */
  private def wordNgrams(w: Column, n: Int): Column =
    transform(sequence(lit(1), size(w) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(w, i + o)): _*))

  /** Exact dedup: one shuffle on the content hash; keeper = min id. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** MinHash signatures over word `shingle`-shingles: ONE md5 per shingle,
    * then `numHashes` functions derived arithmetically ((a*h+b) mod p, the
    * standard minhash family). Narrow — no shuffle. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 6, shingle: Int = 3): DataFrame = {
    val w = col("_w")
    val shingles = wordNgrams(w, shingle)
    val doc = docs
      .withColumn("_w", words(col(textCol)))
      .withColumn("_sh", when(size(w) >= shingle, shingles)
        .otherwise(array().cast("array<string>")))
      .withColumn("_hs", transform(col("_sh"), h32 _))
    val sigs = (0 until numHashes).map { i =>
      val (a, b) = (2 * i + 3, 1000003 * i + 12345)
      array_min(transform(col("_hs"), h => (h * a + b) % MinhashP)).as(s"mh$i")
    }
    doc.select(col(idCol) +: sigs: _*)
  }

  /** LSH near-dup candidate pairs: signatures are banded (`bandSize`
    * consecutive hashes per band); docs sharing a band bucket become a
    * candidate pair. The only shuffle carries (id, bucket).
    *
    * The banded table feeds both sides of the self-join, so it is
    * materialised once (building the pairs frame therefore runs one eager
    * job). `checkpointDir` picks the policy ([[graft.runtime.Checkpoints]]):
    * executor-local by default; pass a reliable directory on a real
    * cluster so downstream queries survive executor loss.
    *
    * Requires unique ids: pairs are deduplicated by the first-matching-band
    * witness filter, not a `distinct`, so two docs sharing an id yield
    * repeated pair rows. */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 6, shingle: Int = 3,
                        bandSize: Int = 2, numBands: Int = 2,
                        checkpointDir: Option[String] = None): DataFrame = {
    require(numBands * bandSize <= numHashes, "bands exceed signature length")
    // Docs with fewer than `shingle` words have NO signature (null
    // minhashes). Without this filter they would all share one degenerate
    // bucket — a quadratic all-pairs blowup on short docs, the exact shape
    // this operator exists to avoid. They can't minhash-match anyway.
    // The filter tests the WORD COUNT (the only way a signature is null),
    // not the computed signature: a `mh0.isNotNull` here gets pushed below
    // the projection with its defining expression substituted in, so the
    // whole shingle+md5 pipeline would run once for the filter and again
    // for the projection — measured 4× slower on the documents table.
    val eligible =
      docs.filter(graft.operators.TextStats.spaceTokens(col(textCol)) >= shingle)
    val sig = minhashSignatures(eligible, idCol, textCol, numHashes, shingle)
    // Band keys are STRUCTS of the band's minhash ints, not the former
    // `concat_ws(":", …)` strings: struct equality is the same predicate
    // (the int components compare exactly; the separator only existed to
    // keep the string rendering unambiguous) while the banded rows ship
    // ~16 bytes of ints instead of a rendered string through the exchange
    // (guide §2.3 — narrower types), and no per-row string assembly runs
    // in the explode.
    def bandKey(b: Int) = struct((0 until bandSize)
      .map(j => col(s"mh${b * bandSize + j}").as(s"k$j")): _*)
    // The SIGNATURE frame is what gets materialised — (id, mh0..mhN)
    // flat longs, the narrowest durable form — and the banded explode is
    // rebuilt lazily from the pinned longs by each join side (struct
    // packing + posexplode, pure arithmetic). The r19 first cut
    // checkpointed the EXPLODED frame with `_keys` riding it instead,
    // and building that checkpoint took 78 s at sf10 (OPTIMIZATION_r19.md,
    // vs 3.0 s for this shape): `_keys` appears both as a generator input and an
    // output column, and the optimizer resolves that by duplicating the
    // whole minhash chain (md5 per shingle × 6 affine array_mins) into
    // every reference. Pinning the flat signatures once makes every
    // downstream reference a cheap column read — the same structure
    // [[bandedHammingPairs]] always had (its ckpt pins (id, _sig)).
    // (A cache() here would register a new cache entry per invocation
    // and never unpersist; fully lazy recompute measured 2× slower.)
    val ckpt = graft.runtime.Checkpoints.policy(docs.sparkSession, checkpointDir)
    val sigP = ckpt(sig)
    val bands = sigP
      .withColumn("_keys", array((0 until numBands).map(bandKey): _*))
      .select(col(idCol), col("_keys"),
        posexplode(col("_keys")).as(Seq("_band", "_key")))
    // A pair sharing SEVERAL band buckets used to emit one row per shared
    // band, deduplicated by a `.distinct()` — a full exchange + aggregate
    // of the pair list. Both docs' full key arrays are in-row after the
    // join, so the duplicate is decidable NARROWLY: keep a collided row
    // iff no LOWER band also collides (the first-matching-band witness —
    // exactly one row per pair survives, so the output set is provably
    // the distinct's, with one fewer shuffle; guide §2.4).
    val joined = bands.as("a").join(bands.as("b"),
      col("a._band") === col("b._band") && col("a._key") === col("b._key") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
    val firstMatch =
      if (numBands == 1) joined
      else joined.filter(!(0 until numBands - 1)
        .map(j => lit(j) < col("a._band") &&
          element_at(col("a._keys"), j + 1) === element_at(col("b._keys"), j + 1))
        .reduce(_ || _))
    firstMatch
      .select(col(s"a.$idCol").as(s"${idCol}_a"), col(s"b.$idCol").as(s"${idCol}_b"))
  }

  /** SimHash (`bits`-bit) from per-word hashes: explode → per-bit
    * conditional sums → assemble. One shuffle on the id.
    *
    * Word-hash width: bits ≤ 32 uses the house [[h32]] (md5 prefix, 8 hex
    * digits) — the hash the `x_simhash`/`x_simhash_pairs` oracles pin, so
    * it must never change; `wideHash = true` (or bits > 32) extends the
    * SAME md5 prefix to 14 hex digits (≤ 56 bits, for corpus-sized
    * banding — see [[simhashWidthFor]]), which another engine replicates
    * verbatim. The sized track sets `wideHash` unconditionally so its
    * signatures come from ONE hash family at every width — a corpus
    * crossing the 32-bit boundary must not silently change hash source. */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int = 16, wideHash: Boolean = false): DataFrame = {
    require(bits >= 1 && bits <= 56, s"simhash supports 1..56 bits, got $bits")
    // One native row-local pass ([[graft.functions.SimhashScan]], r12) —
    // bit-for-bit the explode(words)→groupBy(id)→per-bit-sum rendering it
    // replaces, WITHOUT that rendering's corpus-wide exchange (a
    // document's words were never distributed; the shuffle only undid the
    // explode). Row-local also means the signature applies to a
    // STREAMING frame unchanged, which the near-dup stream requires.
    docs.select(col(idCol), graft.functions.SimhashScan
      .simhashScan(col(textCol), bits, wideHash).as(s"simhash$bits"))
  }

  /** The per-band slice width that keeps expected band-bucket population
    * near `targetBucketSize` as the corpus grows — [[simhashPairs]]'s
    * analogue of `Ann.planesFor` (same integer arithmetic, so an oracle
    * replicates it from the same count): smallest w ≥ 8 with
    * n ≤ target·2^w, capped by the 56-bit signature ceiling (w ≤ 14 at
    * 4 bands). At a FIXED width a 10× corpus means 10× denser band
    * buckets and ~quadratic candidate growth — measured 20× for 100× at
    * 32 bits (SCALING.md session 4); sizing restores the linear track.
    *
    * The 56-bit signature ceiling (md5-prefix longs stay exact in a
    * DOUBLE-roundtripping oracle up to 2^56) caps w at 14 for 4 bands,
    * i.e. the target-64 density holds up to 64·2^14 ≈ 1.05M docs. Past
    * that the width STAYS at the ceiling and buckets densify — logged,
    * not thrown: expected bucket population grows as n/2^14 (≈ 6k docs
    * per bucket at 100M docs), so verification cost degrades linearly
    * and visibly rather than the job refusing to run. Callers at that
    * scale should raise `targetBucketSize` deliberately (or split the
    * corpus); the log line tells them the density they bought. */
  def simhashWidthFor(n: Long, bands: Int = 4,
                      targetBucketSize: Long = 64): Int = {
    require(n > 0 && bands > 0 && targetBucketSize > 0,
      "n, bands and targetBucketSize must be positive")
    require(bands <= 56, s"bands must fit the 56-bit ceiling, got $bands")
    val maxW = 56 / bands
    // the 8-bit floor must itself respect the ceiling: past 7 bands the
    // per-band budget (56/bands) is below 8, and returning the floor
    // would size a signature simhashIndexBuckets rejects outright
    var w = math.min(8, maxW)
    while (w < maxW && targetBucketSize < ((n + (1L << w) - 1) >> w)) w += 1
    val density = (n + (1L << w) - 1) >> w
    if (density > targetBucketSize)
      log.warn(
        s"simhashWidthFor: $n docs at the ${bands * w}-bit signature " +
        s"ceiling (w=$w, $bands bands) leaves expected band-bucket " +
        s"population $density > target $targetBucketSize — accepting " +
        "denser buckets; candidate verification grows proportionally. " +
        "Raise targetBucketSize deliberately at this scale.")
    w
  }

  /** SimHash banded near-dup pairs — completes the simhash track the way
    * [[lshCandidatePairs]] completes minhash: the `bits`-bit signature is
    * cut into `bands` equal slices, candidates collide on (band index,
    * slice value), and every candidate pair is verified by EXACT hamming
    * distance (`bit_count(a XOR b)` ≤ `maxHamming`). The pigeonhole
    * guarantee is the contract: a pair with hamming < `bands` differs in
    * fewer bits than there are bands, so at least one band is identical
    * and the pair is ALWAYS generated — with the defaults (4 bands,
    * maxHamming 3) recall at the threshold is exact, not probabilistic
    * (minhash-LSH's trade runs the other way). `maxHamming ≥ bands` is
    * rejected rather than silently under-recalling.
    *
    * Scale shape: one shuffle join on the band key (bucket density is
    * 2^(bits/bands) per band — size `bits` with the corpus via
    * [[simhashWidthFor]]); the hamming verify is a narrow integer
    * expression on the collided pairs only. The signature frame is
    * CHECKPOINTED once before the self-join (the [[annIvf]] index
    * convention) — without it both join sides re-run the word explode +
    * per-doc aggregation, the most expensive phase (measured: 2 corpus
    * scans, 0 exchange reuse). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bits: Int = 16, bands: Int = 4,
                   maxHamming: Int = 3, wideHash: Boolean = false,
                   checkpointDir: Option[String] = None): DataFrame =
    bandedHammingPairs(simhash(docs, idCol, textCol, bits, wideHash),
      idCol, s"simhash$bits", bits, bands, maxHamming, checkpointDir)

  /** The band-join half of [[simhashPairs]], generic over any integer
    * signature column — the machinery the image, video
    * ([[videoSignatureFromFrames]]) and audio
    * ([[envelopeSignatureFromSlots]]) near-dup rows reuse wholesale:
    * cut the `bits`-bit signature into `bands` equal slices,
    * collide candidates on (band index, slice value), verify each by
    * exact hamming distance. Pigeonhole contract as in [[simhashPairs]]:
    * hamming < `bands` ⇒ at least one identical band ⇒ the pair is always
    * generated; `maxHamming ≥ bands` is rejected.
    *
    * Slicing uses LOGICAL shift (`shiftrightunsigned`), so full 64-bit
    * signatures with the sign bit set band correctly. The signature frame
    * is checkpointed before the self-join (both sides would otherwise
    * re-run its lineage — for [[simhashPairs]] that lineage is the corpus
    * word explode + per-doc aggregation, the most expensive phase).
    *
    * Output: (`idCol`_a, `idCol`_b, hamming), idA < idB, one row per pair
    * — provided `idCol` is unique: the first-matching-band witness filter
    * stands in for a `distinct`, so repeated ids yield repeated pair
    * rows. */
  def bandedHammingPairs(sig: DataFrame, idCol: String, sigColName: String,
                         bits: Int, bands: Int = 4, maxHamming: Int = 3,
                         checkpointDir: Option[String] = None): DataFrame = {
    require(bits >= 1 && bits <= 64, s"signature width 1..64, got $bits")
    require(bands > 0 && bits % bands == 0,
      s"bits ($bits) must split evenly into bands ($bands)")
    require(maxHamming >= 0 && maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands, got $maxHamming/$bands")
    val w = bits / bands
    val ckpt = graft.runtime.Checkpoints.policy(sig.sparkSession, checkpointDir)
    val sigF = ckpt(sig.select(col(idCol), col(sigColName).cast("long").as("_sig")))
    val mask = if (w == 64) -1L else (1L << w) - 1
    val slices = (0 until bands).map(b =>
      shiftrightunsigned(col("_sig"), b * w).bitwiseAND(mask))
    val banded = sigF.select(col(idCol), col("_sig"),
      posexplode(array(slices: _*)).as(Seq("_band", "_key")))
    // A pair within hamming ≤ maxHamming can collide in SEVERAL bands; the
    // old rendering emitted one row per colliding band and deduplicated
    // with a `.distinct()` — a full exchange + aggregate of the PAIR list,
    // the operator's second-widest frame. Both full signatures are in-row
    // after the join, so the duplicate is decidable NARROWLY instead:
    // keep a collided row iff no LOWER band also collides (the
    // first-matching-band witness — every pair has exactly one, so the
    // set of (a, b, hamming) rows is provably identical to the distinct's
    // output while the exchange disappears; guide §2.4). Slices are
    // recomputed from the riding `_sig`s — two shifts and a mask per
    // earlier band, folded into the join's codegen.
    def slice(side: String, b: Int) =
      shiftrightunsigned(col(s"$side._sig"), b * w).bitwiseAND(mask)
    val joined = banded.as("a").join(banded.as("b"),
      col("a._band") === col("b._band") && col("a._key") === col("b._key") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
    val firstMatch =
      if (bands == 1) joined
      else joined.filter(!(0 until bands - 1)
        .map(j => lit(j) < col("a._band") && slice("a", j) === slice("b", j))
        .reduce(_ || _))
    firstMatch
      .select(col(s"a.$idCol").as(s"${idCol}_a"),
        col(s"b.$idCol").as(s"${idCol}_b"),
        bit_count(col("a._sig").bitwiseXOR(col("b._sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Per-bit MAJORITY combine of per-(doc, frame) hashes into ONE
    * `bits`-bit temporal signature per doc: bit k is set iff strictly
    * more than half the doc's frames set it (ties → 0). Transient
    * per-frame noise — a re-encoded frame, a dropped frame, a scene
    * insert — flips any given bit in a minority of frames and VANISHES;
    * content that persists across the clip survives, so near-dup videos
    * land within a few bits, the property [[bandedHammingPairs]]'s
    * banding exploits. One hash aggregate with `bits` bounded
    * conditional sums — the exchange carries (doc, `bits` longs), never
    * the frames. MultimodalSpec pins it against a row-local majority
    * loop on random frames. */
  def videoSignatureFromFrames(frames: DataFrame, idCol: String,
                               hashCol: String, bits: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be 1..64, got $bits")
    val sums = (0 until bits).map(k =>
      sum(shiftright(col(hashCol), k).bitwiseAND(lit(1L))).as(s"_b$k"))
    val sig = (0 until bits).map(k =>
      when(lit(2L) * col(s"_b$k") > col("_n"), lit(1L << k)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    frames.groupBy(col(idCol))
      .agg(count(lit(1)).as("_n"), sums: _*)
      .select(col(idCol), sig.as("vhash"))
  }

  /** Energy-envelope dHash (the Krawetz dHash formulation applied to an
    * audio clip's energy envelope) for envelope SLOTS-AS-ROWS inputs:
    * per id, pivot the `bits + 1` slot energies into primitive
    * aggregation buffers (one codegen'd hash aggregate — the exchange
    * carries (doc, `bits + 1` doubles), never samples) and set bit `b`
    * iff slot `b` holds more energy than slot `b + 1`. Comparisons are
    * monotone in the energy, so the signature is invariant to volume
    * scaling; feed it into [[bandedHammingPairs]]. AudioDedupSpec pins
    * it against the slot-comparison loop. */
  def envelopeSignatureFromSlots(slots: DataFrame, idCol: String,
                                 slotCol: String, energyCol: String,
                                 bits: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be 1..64, got $bits")
    val es = (0 to bits).map(k =>
      max(when(col(slotCol) === k, col(energyCol))).as(s"_e$k"))
    val sig = (0 until bits).map(b =>
      when(col(s"_e$b") > col(s"_e${b + 1}"), lit(1L << b)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    slots.groupBy(col(idCol))
      .agg(es.head, es.tail: _*)
      .select(col(idCol), sig.as("ahash"))
  }

  /** Packed banded-simhash index over a batch corpus — the simhash twin
    * of [[Ann.semIndexBuckets]]: one row per (band, key) bucket holding
    * the bucket's members as (id, sig, q) structs, where `q` is the
    * 4-dp [[TextStats.quality]] keeper score. Built for
    * [[nearDropAtIngest]]'s stream-static probes: an arriving doc
    * looks up its `bands` bucket keys and judges the packed members
    * in-row, so the ingest side never shuffles.
    *
    * Scale shape: O(corpus × bands) rows before packing, grouped by
    * (band, key) — ONE exchange at build time, priced once per index
    * refresh, never per ingested doc. Size `bits` with
    * [[simhashWidthFor]] so bucket populations hold near the target
    * (~64): the in-row judge is linear in members-per-bucket.
    *
    * Every bucket row is STAMPED with the build parameters
    * (`built_bits`/`built_bands`/`built_wide` literal columns — they
    * survive checkpoints and parquet round-trips, unlike plan-level
    * metadata): signatures are meaningless across widths, and before the
    * stamp a [[simhashIndexMerge]] or [[nearDropAtIngest]] probe
    * configured at a different width silently mis-keyed every bucket —
    * near-dups sailed through with no error. Both consumers now verify
    * the stamp (see [[stampedMembers]]); the per-row cost is three
    * constants the optimizer folds away whenever the index is still
    * plan-literal. */
  def simhashIndexBuckets(docs: DataFrame, idCol: String, textCol: String,
                          bits: Int, bands: Int = 4,
                          wideHash: Boolean = false): DataFrame = {
    require(bits >= 1 && bits <= 56, s"simhash supports 1..56 bits, got $bits")
    require(bands > 0 && bits % bands == 0,
      s"bits ($bits) must split evenly into bands ($bands)")
    val w = bits / bands
    val mask = (1L << w) - 1
    val slices = (0 until bands).map(b =>
      shiftrightunsigned(col("_sig"), b * w).bitwiseAND(mask))
    docs
      .select(col(idCol).cast("long").as("_id"),
        graft.functions.SimhashScan.simhashScan(col(textCol), bits, wideHash)
          .as("_sig"),
        TextStats.quality(col(textCol)).as("_q"))
      .select(col("_id"), col("_sig"), col("_q"),
        posexplode(array(slices: _*)).as(Seq("band", "key")))
      .groupBy(col("band"), col("key"))
      .agg(collect_list(struct(col("_id").as("id"), col("_sig").as("sig"),
        col("_q").as("q"))).as("members"))
      .select(col("band"), col("key"), col("members"),
        lit(bits).as("built_bits"), lit(bands).as("built_bands"),
        lit(wideHash).as("built_wide"))
  }

  /** The `members` column of a stamped packed index
    * ([[simhashIndexBuckets]]'s shape), guarded by the build-parameter
    * stamp: reading it with MATCHING (`bits`, `bands`, `wideHash`)
    * yields the members unchanged; a mismatch raises a runtime error
    * naming both sides on the first bucket row touched. The guard is a
    * per-row three-constant comparison folded into whatever projection
    * reads the members — when the index is still plan-literal (not yet
    * checkpointed) the optimizer constant-folds the whole branch away
    * (match → bare `members`, mismatch → a plan-time error), so the
    * happy path costs nothing and the failure is as early as the plan
    * allows. Throws immediately (plan-construction time) if the frame
    * lacks the stamp columns — an index predating the stamp must be
    * rebuilt, not guessed at. */
  private[graft] def stampedMembers(index: DataFrame, bits: Int, bands: Int,
                                    wideHash: Boolean): Column = {
    val stamp = Seq("built_bits", "built_bands", "built_wide")
    require(stamp.forall(index.columns.contains),
      s"packed simhash index lacks the build-parameter stamp columns " +
        s"${stamp.mkString("/")} — rebuild it with simhashIndexBuckets " +
        s"(got columns: ${index.columns.mkString(", ")})")
    when(col("built_bits") === lit(bits) &&
        col("built_bands") === lit(bands) &&
        col("built_wide") === lit(wideHash), col("members"))
      .otherwise(raise_error(concat(
        lit(s"simhash index width mismatch: configured bits=$bits, " +
          s"bands=$bands, wideHash=$wideHash but the index was built " +
          "with bits="), col("built_bits").cast("string"),
        lit(", bands="), col("built_bands").cast("string"),
        lit(", wideHash="), col("built_wide").cast("string"),
        lit(" — signatures are not comparable across widths; " +
          "rebuild the index"))))
  }

  /** Near-duplicate drop-at-ingest against a BATCH-BUILT simhash index
    * ([[simhashIndexBuckets]]) — the [[Ann.semDropAtIngest]] pattern
    * applied to the simhash track, and the ingest-side composition of
    * the batch pipeline's near-dup keeper ([[TextPipeline]] stage 2b):
    * each arriving doc computes its signature and 4-dp keeper quality
    * IN-ROW ([[graft.functions.SimhashScan]] + [[TextStats.quality]] —
    * both row-local, so they apply to a stream unchanged), probes its
    * `bands` bucket keys with stream-static LEFT equi-joins against the
    * packed index, and judges the collected members in-row: the doc is
    * DROPPED iff some indexed member within `maxHamming` beats it on
    * (quality desc, id asc) — the keeper window's exact ordering,
    * decided locally. One output row per ingested doc:
    * (id, sig, witness, witness_q, dropped) — witness = the
    * best-quality qualifying member, ties to the smallest id (selected
    * by VALUE via `array_min` over (−q, id) structs, so the index's
    * member packing order never matters).
    *
    * STATELESS by construction — row-local kernels plus `bands`
    * stream-static joins, so the query runs in append mode with no
    * watermark and no keyed state, and the same DataFrame code runs
    * unchanged on a batch frame (StreamsSpec pins the two bit-equal).
    * The pigeonhole contract (`maxHamming < bands`, enforced) makes the
    * banded probe EXACT: every indexed member within `maxHamming`
    * shares at least one band key, so the local decision sees every
    * qualifying witness. Policy note: ingest-local best-witness, not
    * the batch stage's global cluster keeper — on a transitive chain
    * a→b→c where only adjacent docs collide, the batch CC keeper keeps
    * exactly one doc per CLUSTER, while the ingest gate judges each doc
    * against its direct neighbours only (a doc survives iff no indexed
    * near-dup beats it). Self-ids already present in the index are
    * excluded, so re-ingest replays are idempotent.
    *
    * Scale shape: the index is O(corpus × bands) but bucket-packed
    * (size `bits` via [[simhashWidthFor]] to hold populations ~64); the
    * stream side never shuffles — each probe is the static side's
    * lookup, and the in-row judge is linear in the probed buckets'
    * members.
    *
    * `bits`/`bands`/`wideHash` must match the index's build parameters
    * — ENFORCED against the index's stamp columns ([[stampedMembers]]):
    * a mismatched probe raises instead of silently mis-keying every
    * bucket lookup.
    *
    * Three registry queries call it: `x_near_ingest`,
    * `x_near_ingest_incr` and `x_near_ingest_lifecycle`. */
  def nearDropAtIngest(docs: DataFrame, idCol: String, textCol: String,
                       index: DataFrame, bits: Int, bands: Int = 4,
                       maxHamming: Int = 3,
                       wideHash: Boolean = false): DataFrame = {
    require(bits >= 1 && bits <= 56, s"simhash supports 1..56 bits, got $bits")
    require(bands > 0 && bits % bands == 0,
      s"bits ($bits) must split evenly into bands ($bands)")
    require(maxHamming >= 0 && maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands, got $maxHamming/$bands")
    val w = bits / bands
    val mask = (1L << w) - 1
    val memberType = ArrayType(StructType(Seq(
      StructField("id", LongType), StructField("sig", LongType),
      StructField("q", DoubleType))))
    val withSig = docs
      .withColumn("_id", col(idCol).cast("long"))
      .withColumn("sig",
        graft.functions.SimhashScan.simhashScan(col(textCol), bits, wideHash))
      .withColumn("_q", TextStats.quality(col(textCol)))
    // one stream-static LEFT join per band — a single join would need the
    // probe keys EXPLODED to rows and the verdict re-aggregated per doc,
    // which append mode without watermarks cannot express; `bands` is 4,
    // not corpus-sized, and each join is the static side's lookup
    val probed = (0 until bands).foldLeft(withSig) { (acc, b) =>
      // the stamp guard rides the members read: a probe configured at a
      // different width than the index was built with raises on the
      // first bucket row instead of silently mis-keying every lookup
      // (near-dups would sail through with no error otherwise)
      val bucket = index.filter(col("band") === b)
        .select(col("key").as(s"_k$b"),
          stampedMembers(index, bits, bands, wideHash).as(s"_m$b"))
      acc
        .withColumn(s"_key$b",
          shiftrightunsigned(col("sig"), b * w).bitwiseAND(mask))
        .join(bucket, col(s"_key$b") === col(s"_k$b"), "left")
    }
    // concat propagates a null operand to a null result, so each missed
    // bucket coalesces to the empty member list first
    val allMembers = concat((0 until bands).map(b =>
      coalesce(col(s"_m$b"), array().cast(memberType))): _*)
    probed
      .withColumn("_cands", filter(allMembers, m =>
        bit_count(m.getField("sig").bitwiseXOR(col("sig"))) <= maxHamming &&
          m.getField("id") =!= col("_id") &&
          (m.getField("q") > col("_q") ||
            (m.getField("q") === col("_q") && m.getField("id") < col("_id")))))
      .withColumn("_best", array_min(transform(col("_cands"), m =>
        struct((-m.getField("q")).as("nq"), m.getField("id").as("witness")))))
      .select(col(idCol), col("sig"),
        col("_best.witness").as("witness"),
        (-col("_best.nq")).as("witness_q"),
        col("_best").isNotNull.as("dropped"))
  }

  /** Incremental refresh of a packed simhash index
    * ([[simhashIndexBuckets]]'s shape): fold a NEW batch of documents
    * into an existing index WITHOUT re-reading the indexed corpus. Only
    * the batch is scanned, signed and quality-scored; the old index
    * contributes its already-packed (id, sig, q) members, and the two
    * merge per (band, key) bucket via one union + groupBy flatten.
    *
    * Why this is the refresh shape at scale: a full rebuild's dominant
    * cost is re-scanning and re-signing the corpus TEXT (the 100 TB),
    * which the index made ~4000× smaller (24 B/member × bands vs the
    * documents themselves). A merge prices the refresh at
    * O(batch text scan) + O(index-bytes shuffle) — the corpus text is
    * never touched. Member order inside a merged bucket differs from a
    * rebuild's (collect_list is arrival-ordered), which is immaterial
    * by [[nearDropAtIngest]]'s contract: the
    * witness is selected by VALUE, never by packing order (the merge ≡
    * rebuild probe equality is spec-pinned).
    *
    * Contract: `bits`/`bands`/`wideHash` MUST match the values the
    * index was built with (signatures are not comparable across
    * widths) — ENFORCED via the index's build-parameter stamp
    * ([[stampedMembers]]): a mismatched merge raises instead of
    * silently mis-keying every folded bucket. When the corpus outgrows
    * the sized width ([[simhashWidthFor]] steps up), the index needs
    * ONE full rebuild — merges amortize every refresh in between (the
    * build-or-merge decision plus checkpoint ownership live in
    * [[refreshSimhashIndex]]). Ids already present in
    * the index are NOT deduplicated here: re-ingesting a batch twice
    * double-packs its members (harmless to the gate — a doc never
    * witnesses itself and duplicate witnesses tie on (q, id) — but
    * callers replaying history should anti-join first, or use
    * [[refreshSimhashIndex]]'s `dropKnownIds`). */
  def simhashIndexMerge(index: DataFrame, newDocs: DataFrame,
                        idCol: String, textCol: String,
                        bits: Int, bands: Int = 4,
                        wideHash: Boolean = false): DataFrame = {
    val delta = simhashIndexBuckets(newDocs, idCol, textCol, bits, bands,
      wideHash)
    index.select(col("band"), col("key"),
        stampedMembers(index, bits, bands, wideHash).as("members"))
      .unionAll(delta.select(col("band"), col("key"), col("members")))
      .groupBy(col("band"), col("key"))
      .agg(flatten(collect_list(col("members"))).as("members"))
      .select(col("band"), col("key"), col("members"),
        lit(bits).as("built_bits"), lit(bands).as("built_bands"),
        lit(wideHash).as("built_wide"))
  }

  /** The packed-index REFRESH LIFECYCLE — owns the three decisions the
    * raw [[simhashIndexBuckets]]/[[simhashIndexMerge]] pair delegates to
    * callers:
    *
    *   1. '''Build or merge.''' The refreshed width is re-sized on the
    *      post-refresh doc count ([[simhashWidthFor]]); if it equals the
    *      index's stamped width (the common case — width steps are
    *      logarithmic in corpus size) the batch is MERGED at
    *      O(batch text) + O(index bytes), never re-reading the corpus.
    *      If the corpus outgrew the width step (or `bands`/`wideHash`
    *      changed), the index is REBUILT once from `fullCorpus` — the
    *      only path that evaluates it (by-name), so merge-path callers
    *      can pass a frame they never materialize.
    *   2. '''Replay guard.''' With `dropKnownIds` (default), batch docs
    *      whose ids are already indexed are anti-joined away BEFORE
    *      counting and signing, so re-ingesting history neither
    *      double-packs members nor inflates the width accounting. Known
    *      ids come from the band-0 buckets only — every doc appears in
    *      exactly one band-0 bucket, so the explode is 1/`bands` of the
    *      index and needs no distinct. The anti join is an id-keyed
    *      shuffle join (history is corpus-sized; never broadcast).
    *   3. '''Checkpoint ownership.''' The returned index is eagerly
    *      `localCheckpoint`-ed with every intermediate the refresh
    *      pinned released ([[graft.runtime.Checkpoints.withLocalCheckpointScope]]),
    *      and the PREDECESSOR's pinned blocks are released once the new
    *      index is durable — the [[graft.runtime.Checkpoints.Rolling]]
    *      discipline across refresh calls. The predecessor frame is
    *      SPENT after this returns: a K-refresh pipeline holds one
    *      pinned index, not K.
    *
    * Driver-side cost, all bounded: one `head` on the stamp columns, one
    * index-sized count of the band-0 members, one O(batch) count for the
    * width accounting — never anything corpus-sized.
    *
    * `current = None` (or an empty index) is the first build: sized on
    * the batch alone, `fullCorpus` not evaluated. Indexes built with a
    * manual (non-[[simhashWidthFor]]) width are re-sized — and therefore
    * rebuilt — on their first refresh; the helper owns sizing from then
    * on. Returns the new checkpointed index, stamped like every
    * [[simhashIndexBuckets]] output. */
  def refreshSimhashIndex(current: Option[DataFrame], newDocs: DataFrame,
                          idCol: String, textCol: String,
                          fullCorpus: => DataFrame,
                          bands: Int = 4, wideHash: Boolean = false,
                          targetBucketSize: Long = 64,
                          dropKnownIds: Boolean = true): DataFrame = {
    import graft.runtime.Checkpoints
    val spark = newDocs.sparkSession
    // an absent OR empty index is a first build — there is no stamp row
    // to honor and nothing to merge into
    val stamped = current.filter { idx =>
      val stamp = Seq("built_bits", "built_bands", "built_wide")
      require(stamp.forall(idx.columns.contains),
        "refreshSimhashIndex: current index lacks the build-parameter " +
          s"stamp ${stamp.mkString("/")} — rebuild it with " +
          "simhashIndexBuckets before handing it to the lifecycle")
      !idx.isEmpty
    }
    stamped match {
      case None =>
        val n = newDocs.count()
        val bits = bands * simhashWidthFor(n max 1, bands, targetBucketSize)
        log.info(s"refreshSimhashIndex: first build, $n docs at $bits bits")
        Checkpoints.withLocalCheckpointScope(spark)(
          simhashIndexBuckets(newDocs, idCol, textCol, bits, bands, wideHash))
      case Some(index) =>
        val stamp = index
          .select(col("built_bits"), col("built_bands"), col("built_wide"))
          .head()
        val (curBits, curBands, curWide) =
          (stamp.getInt(0), stamp.getInt(1), stamp.getBoolean(2))
        // band-0 holds every indexed doc exactly once: exact count and
        // the replay guard's id set, at 1/bands of the index
        val band0 = index.filter(col("band") === 0)
        val indexedCount = band0
          .agg(coalesce(sum(size(col("members"))), lit(0L))).head().getLong(0)
        val out = Checkpoints.withLocalCheckpointScope(spark) {
          val batch =
            if (dropKnownIds)
              newDocs.join(
                band0.select(explode(col("members.id")).as("_known_id")),
                col(idCol).cast("long") === col("_known_id"), "left_anti")
                .localCheckpoint()
            else newDocs
          val batchCount = batch.count()
          val w = simhashWidthFor((indexedCount + batchCount) max 1,
            bands, targetBucketSize)
          val bits = bands * w
          if (bits == curBits && bands == curBands && wideHash == curWide) {
            log.info(s"refreshSimhashIndex: merging $batchCount docs into " +
              s"$indexedCount at $bits bits")
            simhashIndexMerge(index, batch, idCol, textCol, bits, bands,
              wideHash)
          } else {
            log.info("refreshSimhashIndex: width step " +
              s"($curBits bits/$curBands bands/wide=$curWide -> " +
              s"$bits/$bands/wide=$wideHash) — rebuilding from the corpus")
            simhashIndexBuckets(fullCorpus, idCol, textCol, bits, bands,
              wideHash)
          }
        }
        // the new index is durable (eager localCheckpoint above): the
        // predecessor's pinned blocks can be released deterministically
        Checkpoints.releaseLocal(index)
        out
    }
  }

  /** Edge-row bound of [[connectedComponents]]' driver finish. */
  val DriverCcMaxEdges: Long = 1000L * 1000

  /** Connected components over a candidate-pair edge list — turns near-dup
    * PAIRS into CLUSTERS (every doc labelled with its component's minimum
    * id, the canonical representative).
    *
    * Two regimes, chosen per call from the bidirectional edge count (two
    * rows per pair), which the edge checkpoint already pays for:
    *  - at or below [[DriverCcMaxEdges]] edge rows, the edge list is
    *    collected ONCE (one direction per pair) and labelled on the driver
    *    by an iterative union-find; the labels come back as an RDD-backed
    *    frame and the edge checkpoint is released. On graphs this small
    *    the distributed loop's cost is pure per-stage scheduling latency:
    *    a 1,130-doc corpus with 30 planted 16-doc chains (450 pairs, 900
    *    edge rows) took 15 jobs and ~1.5 s in the loop, against 6 jobs and
    *    ~0.2 s for the driver finish. The near-dup Bench rows
    *    (`x_dedup_cluster`, `x_dedup_cluster_best`, `x_pipeline_near`)
    *    send 32-92 edge rows per call at sf0.001 and sf0.01 and 2,904-3,652
    *    at sf0.1, all on this side;
    *  - above it, the distributed HashMin + pointer-jumping loop
    *    ([[ccSqlLoop]]; Kiveris et al., "Connected Components in MapReduce
    *    and Beyond", SoCC 2014), which scales past any one JVM. The same
    *    rows at sf10 (1.15M edges over 190k ids, OPTIMIZATION_r19.md §4)
    *    are above the bound and stay on the loop.
    * Id types without an exact driver-side rendering of Spark's ordering
    * and equality (anything but integral types and binary-collated
    * strings) always take the loop.
    *
    * The bound is a constant, not an option: it is sized to driver heap,
    * and the two regimes give identical rows, so the only thing a setting
    * could trade is driver memory for scheduling latency, which the bound
    * already settles. At the bound (500k pairs over 500k ids) the driver
    * finish completes in a 512 MB driver heap, the smallest Spark accepts;
    * sampled heap use peaked at 335 MB for long ids and 418 MB for
    * 10-character string ids, inside Spark's 1 GB default. Both regimes
    * evaluate the `pairs` plan exactly once, and the driver finish never
    * touches session conf.
    *
    * `checkpointDir` selects the lineage-truncation policy — see
    * [[graft.runtime.Checkpoints]]: pass a reliable directory on a real
    * cluster so an executor loss mid-loop recovers instead of killing the
    * job. Spills written under it follow the directory's lifecycle: the
    * driver finish leaves the edge spill there (its labels never read it),
    * the loop the edge spill and its final label spill.
    *
    * Input: pairs with columns (`idA`, `idB`). Output: (`id`, `component`).
    * Isolated ids never present in `pairs` are absent — union the full id
    * set with `coalesce(component, id)` downstream if needed. */
  def connectedComponents(pairs: DataFrame, idA: String, idB: String,
                          maxIter: Int = 50,
                          checkpointDir: Option[String] = None): DataFrame = {
    val edges = ccEdges(pairs, idA, idB, checkpointDir)
    val edgeRows = edges.count()
    driverCcOrdering(edgeRows, edges.schema("src").dataType) match {
      case Some(ord) =>
        log.info(s"connectedComponents: $edgeRows edge rows, driver union-find")
        driverComponents(edges, ord)
      case None =>
        log.info(s"connectedComponents: $edgeRows edge rows, distributed loop")
        hashMinLoop(edges, edgeRows, maxIter, checkpointDir)
    }
  }

  /** The driver finish's id ordering when `edgeRows` edges of `idType` are
    * at or below the bound, else None (the distributed loop). */
  private[operators] def driverCcOrdering(edgeRows: Long,
                                          idType: DataType): Option[Ordering[Any]] =
    if (edgeRows > DriverCcMaxEdges) None
    else idType match {
      case LongType | IntegerType | ShortType | ByteType =>
        Some(Ordering.by[Any, Long](_.asInstanceOf[Number].longValue))
      case StringType => // the default UTF8_BINARY collation only
        // Spark orders these by their UTF-8 bytes, which differs from
        // String.compareTo's UTF-16 order above the BMP
        Some(Ordering.fromLessThan[Any] { (a, b) =>
          UTF8String.fromString(a.asInstanceOf[String])
            .binaryCompare(UTF8String.fromString(b.asInstanceOf[String])) < 0
        })
      case _ => None
    }

  /** Bidirectional edge list in ONE pass over `pairs` (r19): the former
    * `select(a,b).union(select(b,a))` evaluated the pairs PLAN twice —
    * invisible while the pair generators ended in a `.distinct()` whose
    * exchange ReuseExchange shared across the branches, but the r19
    * witness-filter rendering removed that exchange (guide §2.4) and the
    * union then re-ran the whole banded self-join per branch (measured:
    * x_dedup_cluster +37% at sf10). The in-row explode emits both
    * directions from a single evaluation whatever shape the pairs plan
    * has. Checkpointed PRE-PARTITIONED on `dst`, the key every loop
    * round's HashMin join probes. */
  private def ccEdges(pairs: DataFrame, idA: String, idB: String,
                      checkpointDir: Option[String]): DataFrame =
    graft.runtime.Checkpoints.policy(pairs.sparkSession, checkpointDir)(
      pairs.select(explode(array(
          struct(col(idA).as("src"), col(idB).as("dst")),
          struct(col(idB).as("src"), col(idA).as("dst")))).as("_e"))
        .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
        .repartition(col("dst")))

  /** The driver finish: one collect of one direction per pair, then
    * union-find with the root always the smaller id index, so every root
    * IS its component's minimum. Reproduces the loop's rows exactly,
    * null ids included: the loop never joins on a null id, so a null node
    * joins no component and takes the final label of its smallest
    * non-null neighbour (null if it has none). */
  private def driverComponents(edges: DataFrame, ord: Ordering[Any]): DataFrame = {
    val spark = edges.sparkSession
    val srcField = edges.schema("src")
    // (a, b) and (b, a) both sit in the bidirectional list: keep a <= b,
    // and keep null-src rows whole (their reverses compare to null)
    val half = edges
      .filter(coalesce(col("src") <= col("dst"), col("src").isNull))
      .collect()
    graft.runtime.Checkpoints.releaseLocal(edges)
    val ids = half.iterator.flatMap(r => Iterator(r.get(0), r.get(1)))
      .filter(_ != null).toArray.distinct.sorted(ord)
    val index = new java.util.HashMap[Any, Int](ids.length * 2)
    ids.indices.foreach(i => index.put(ids(i), i))
    val parent = Array.range(0, ids.length)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    // the null node's smallest non-null neighbour, as an id index
    var nullNode = false
    var nullNbr = Int.MaxValue
    half.foreach { r =>
      if (r.isNullAt(0)) {
        nullNode = true
        if (!r.isNullAt(1)) nullNbr = math.min(nullNbr, index.get(r.get(1)))
      } else {
        val (ra, rb) = (find(index.get(r.get(0))), find(index.get(r.get(1))))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
    }
    val labelled = ids.indices.map(i => Row(ids(i), ids(find(i))))
    val nullRow = Option.when(nullNode)(
      Row(null, if (nullNbr == Int.MaxValue) null else ids(find(nullNbr))))
    val schema = StructType(Seq(srcField.copy(name = "id"),
      srcField.copy(name = "component")))
    spark.createDataFrame(spark.sparkContext.parallelize(labelled ++ nullRow), schema)
  }

  /** The distributed loop alone, whatever the edge count: the entry its
    * own tests pin, since [[connectedComponents]] finishes small graphs on
    * the driver.
    *
    * Min-label propagation with pointer jumping: each round every node
    * adopts the minimum of its own and its neighbours' labels (HashMin),
    * then follows its label's label (`component := label(component)`, path
    * doubling). The jump halves pointer chains, so a path whose ids
    * ascend or descend along it converges in O(log diameter) rounds rather
    * than O(diameter) (7 rounds for 100 nodes). Along a scattered id
    * order the jumps shortcut far less: 100-node paths with ids stepping
    * by 37 mod 101 and by 7919 mod 1013 need 39 and 89 rounds, the latter
    * past the default `maxIter`; and past ~15 rounds each round's planning
    * time grows, because a label checkpoint inherits its round plan's size
    * estimate, a product over the previous labels' own. Labels only ever
    * decrease, never below the component minimum, and the minimum node's
    * label is pinned at itself, so the fixpoint is exactly min-id
    * labelling — independent of iteration schedule, which is what lets
    * the r18 shape changes below keep output bit-identical.
    *
    * Round-18 shape (guide §2.4 — remove shuffles outright; measured in
    * OPTIMIZATION_r18.md):
    *  - the edge list drops its `distinct` (a full shuffle of the edges):
    *    HashMin's `min` is duplicate-insensitive, and the bidirectional
    *    union of an `idA < idB` pair list cannot collide, so the distinct
    *    only ever paid for caller-supplied duplicates — linear extra rows
    *    for such callers, never a wrong label;
    *  - edges are instead checkpointed PRE-PARTITIONED on `dst`, so the
    *    loop re-shuffles only the (node-sized) label frame per round, never
    *    the edge list (`Dataset.checkpoint` preserves the physical
    *    partitioning);
    *  - label init fuses the first HashMin: labels start at
    *    `min(id, min(neighbour ids))` from ONE aggregate over the edges —
    *    the same state the old identity init reached only after a full
    *    round (join + agg + jump), because the first round's neighbour
    *    labels WERE the neighbour ids. Already-converged inputs (the
    *    common near-dup case: star clusters around the min id) now finish
    *    in one confirming round instead of two;
    *  - the convergence flag rides a `_changed` column in the checkpointed
    *    frame, read back by a bounded `isEmpty` probe on the pinned blocks
    *    — the accumulator rendering round-tripped every round's labels
    *    through `Dataset.rdd`/`createDataFrame`, deserialising the frame
    *    and rebuilding it outside whole-stage codegen.
    *
    * Round-19 refuted experiment (kept as a measurement, guide §1.1): a
    * raw-RDD rendering of this loop — shared HashPartitioner, narrow
    * co-partitioned joins, two node-sized shuffles per round, ZERO
    * per-round Catalyst work — was built on the theory that the ~0.5
    * s/round steady-state cost (per-round trace, sf10) was driver-side
    * re-analysis/re-planning of the three-join round query. It LOST 2×:
    * 31.7 s vs 14.4 s for the same sf10 CC (1.5-2.5 s/round), because
    * RDD shuffles move Java-serialised boxed tuples where the SQL loop
    * moves Tungsten binary rows — the per-row cost dominates the
    * planning fixed cost it saved. The SQL loop stands. */
  private[operators] def ccSqlLoop(pairs: DataFrame, idA: String, idB: String,
                                   maxIter: Int = 50,
                                   checkpointDir: Option[String] = None): DataFrame = {
    val edges = ccEdges(pairs, idA, idB, checkpointDir)
    hashMinLoop(edges, edges.count(), maxIter, checkpointDir)
  }

  private def hashMinLoop(edges: DataFrame, edgeRows: Long, maxIter: Int,
                          checkpointDir: Option[String]): DataFrame = {
    val spark = edges.sparkSession
    // labels roll: each round's spill supersedes the last, which is
    // deleted once the new round is durably written — a long loop holds
    // at most two label spills, not one per round. Edges persist for the
    // whole loop and use the plain policy.
    val labelCkpt = new graft.runtime.Checkpoints.Rolling(spark, checkpointDir)
    // Rounds are dominated by per-stage SCHEDULING latency, not data:
    // the label/edge frames are node-sized (near-dup participants), and
    // AQE turns each round's three joins into 5-6 materialised query
    // stages — measured ~1.8 s/round at sf10 on 0.6 M edges where the
    // task work is milliseconds, ~15 rounds for the fixture's longest
    // chain. For loops over AQE-trivial inputs the adaptive machinery is
    // pure overhead (nothing to coalesce or skew-split at this size), so
    // it is switched off FOR THE LOOP ONLY when the edge list is small
    // (bounded count on the pinned blocks), and restored after
    // (`GraftSession.withConf`). The
    // threshold is data-derived, not core-count-derived: big edge lists
    // keep AQE (coalescing and skew handling matter there).
    // r19 refuted variant #2 (kept as a measurement): re-pinning the edge
    // list AT the loop partition count (so every loop stage ran loop-width
    // instead of the mixed session-width/loop-width regime) LOST at sf10 —
    // x_dedup_cluster 5.89 → 8.59 s, x_pipeline_near 29.4 → 31.3 s. The
    // 4-partition floor underparallelises the edge join on 32 cores; the
    // session-width edge pin keeps that join wide while the derived count
    // still bounds the tiny label-side stages. Edges stay pinned at the
    // session partitioning.
    // fused init: one aggregate gives every node (all appear as src of the
    // bidirectional list) its min(self, neighbours) label — the state the
    // identity init only reached after a full HashMin round
    var labels = labelCkpt(
      edges.groupBy(col("src"))
        .agg(min(col("dst")).as("_mn"))
        .select(col("src").as("id"),
          least(col("src"), col("_mn")).as("component")))
    var iter = 0
    var converged = false
    val aqeKey = "spark.sql.adaptive.enabled"
    val loopAqeOff = spark.conf.get(aqeKey, "true") == "true" &&
      edgeRows <= 50L * 1000 * 1000
    val loopConf =
      if (!loopAqeOff) Nil
      else Seq(
        aqeKey -> "false",
        // no sorts on node-sized frames: hash joins build in-memory tables
        // a few MB wide; sort-merge would sort the labels 3× per round
        "spark.sql.join.preferSortMergeJoin" -> "false",
        // partition count from DATA (the decision AQE coalescing would have
        // made): ~2M edge rows per partition, floor 4 — 32+ tasks per tiny
        // stage is pure scheduling overhead in this regime
        "spark.sql.shuffle.partitions" ->
          math.max(4L, edgeRows / (2L * 1000 * 1000)).toString)
    graft.runtime.GraftSession.withConf(spark, loopConf: _*) {
      while (iter < maxIter && !converged) {
        // HashMin: each node adopts the min of its own and its neighbours'
        // labels, keeping the previous label for the convergence flag
        val viaEdges = edges
          .join(labels.withColumnRenamed("id", "dst2"),
            col("dst") === col("dst2"))
          .groupBy(col("src").as("id"))
          .agg(min(col("component")).as("nbr_component"))
        val stepped = labels.join(viaEdges, Seq("id"), "left")
          .select(col("id"), col("component").as("_old"),
            least(col("component"), coalesce(col("nbr_component"), col("component")))
              .as("component"))
        // pointer jump: component := label(component). Every label value is
        // itself a node id present in `stepped` (labels are mins over node
        // ids of the same component), so the lookup is total; the left join
        // + coalesce is belt-and-braces.
        val jump = stepped
          .select(col("id").as("_j_id"), col("component").as("_j_component"))
        val flagged = stepped.join(jump, col("component") === col("_j_id"), "left")
          .select(col("id"),
            coalesce(col("_j_component"), col("component")).as("component"),
            (coalesce(col("_j_component"), col("component")) < col("_old"))
              .as("_changed"))
        // The round's ONE heavy action is the checkpoint materialisation;
        // the convergence probe then reads the pinned blocks (a bounded
        // limit-1 scan of already-computed rows, never a recompute).
        val t0 = System.nanoTime()
        val ckpted = labelCkpt(flagged)
        val t1 = System.nanoTime()
        converged = ckpted.filter(col("_changed")).isEmpty
        labels = ckpted.select("id", "component")
        iter += 1
        log.info(f"connectedComponents round $iter: materialise " +
          f"${(t1 - t0) / 1e9}%.3f s, probe ${(System.nanoTime() - t1) / 1e9}%.3f s")
      }
    }
    // silent wrong answers are worse than failing: an unconverged result
    // would split one real cluster into several with no signal
    if (!converged) sys.error(
      s"connectedComponents did not converge in $maxIter iterations " +
        "(log2 of component diameter exceeds maxIter) — raise maxIter")
    labels
  }

  /** Canonical-doc selection: given docs and near-dup pairs, label every
    * doc with its cluster representative (cluster = connected component of
    * the pair graph; representative = min id) and mark survivors.
    * `checkpointDir` is forwarded to [[connectedComponents]]. */
  def dedupByClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
                      idA: String, idB: String,
                      checkpointDir: Option[String] = None): DataFrame = {
    // working columns are namespaced: `docs` is caller-supplied and may
    // already carry a `component` column from a previous pass
    val comp = connectedComponents(pairs, idA, idB, checkpointDir = checkpointDir)
      .select(col("id").as("_cc_id"), col("component").as("_cc_component"))
    docs.join(comp, docs(idCol) === col("_cc_id"), "left")
      .withColumn("component", coalesce(col("_cc_component"), docs(idCol)))
      .withColumn("is_canonical", docs(idCol) === col("component"))
      .drop("_cc_id", "_cc_component")
  }

  /** Quality-aware canonical selection over near-dup clusters: like
    * [[dedupByClusters]], but the kept copy per component is the BEST
    * by `order` (e.g. quality desc — dedup pipelines keep the
    * highest-quality or longest rendering of a page, not the lowest id;
    * the id-based root is an arbitrary survivor). `order` MUST end in a
    * unique tie-break for a deterministic kept-set, the
    * [[graft.operators.TextStats.capPerGroup]] contract.
    *
    * Scale shape: [[connectedComponents]]' O(log d) pointer-jumping
    * plus ONE component-keyed window — components are near-dup
    * clusters, small by construction (candidate generation is bucket-
    * bounded), so the rank never buffers a heavy partition; the
    * overwhelmingly-common singleton components cost one row each. */
  def dedupByClustersBest(docs: DataFrame, idCol: String, pairs: DataFrame,
                          idA: String, idB: String, order: Seq[Column],
                          checkpointDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(order.nonEmpty,
      "order must name at least one column (ending in a unique tie-break)")
    dedupByClusters(docs, idCol, pairs, idA, idB, checkpointDir)
      .drop("is_canonical")
      .withColumn("is_canonical",
        row_number().over(
          Window.partitionBy(col("component")).orderBy(order: _*)) === 1)
  }

  /** Test-set decontamination: count, per training doc, the distinct word
    * `n`-grams it shares with a benchmark/eval set — the standard guard
    * against evaluation leakage in a training corpus. Output: one row per
    * contaminated id, (idCol, n_shared); docs sharing nothing are absent
    * (anti-join the output to keep the clean set), and the counts of docs
    * sharing an id are summed.
    *
    * Shape, routed by the benchmark's size ([[benchGramRoute]]):
    *  - under `benchBroadcastMaxBytes` (benchmarks are usually thousands
    *    of docs): the benchmark's gram set is broadcast as a hash set,
    *    and each doc is PROBED in-row by the native
    *    [[graft.functions.NgramProbe]] — one narrow pass over the corpus,
    *    no gram rows, no join; only docs with a shared gram reach the
    *    per-id sum's exchange (the `n_shared > 0` filter is pushed under
    *    the projection, so the probe runs a second time on those docs
    *    only);
    *  - above it: the corpus's distinct grams are exploded and joined to
    *    the benchmark's by a shuffle-hash join (bench side builds the
    *    hash table, the corpus side never sorts), instead of OOMing the
    *    driver and every executor. */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    n: Int = 3,
                    benchBroadcastMaxBytes: Long = 256L << 20): DataFrame =
    benchGramRoute("decontaminate", benchmark, benchTextCol, n,
        benchBroadcastMaxBytes) match {
      case Left(probe) =>
        docs.select(col(idCol), probe(col(textCol)).getField("n_shared").as("_s"))
          .filter(col("_s") > 0)
          .groupBy(idCol).agg(sum(col("_s")).as("n_shared"))
      case Right(benchGrams) =>
        // both sides are per-key distinct, so plain count = distinct overlap
        gramRows(docs, textCol, n, "_gram").select(col(idCol), col("_gram"))
          .join(benchGrams.hint("SHUFFLE_HASH"), col("_gram") === col("_bgram"))
          .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
    }

  /** Fraction-based contamination scoring — the GPT-3-style gate that
    * [[decontaminate]]'s raw count can't express: a 10 000-token document
    * sharing 5 grams with the eval suite is clean, a 12-token one is
    * not. Per document: `n_grams` (its distinct word `n`-grams),
    * `n_shared` (those also in the benchmark), `frac` = shared/total
    * rounded to 4 places (0.0 for sub-`n`-token docs, which have no
    * grams to contaminate) — callers threshold `frac` themselves, so
    * one scoring pass serves any cutoff. Docs sharing an id each carry
    * the id's summed counts.
    *
    * Shape: [[decontaminate]]'s route. Under the threshold the
    * [[graft.functions.NgramProbe]] yields both counts per doc in one
    * narrow pass, so the per-id sum reads one row per doc; above
    * it ONE gram explode feeds a LEFT shuffle-hash join + conditional
    * count (a separate total-grams branch would re-plan the gram
    * pipeline — the BM25 duplicated-subtree trap). Either way the id
    * frame joining the docs back in is column-pruned to the id alone. */
  def contaminationFraction(docs: DataFrame, idCol: String, textCol: String,
                            benchmark: DataFrame, benchTextCol: String,
                            n: Int = 3,
                            benchBroadcastMaxBytes: Long = 256L << 20): DataFrame = {
    val scored = benchGramRoute("contaminationFraction", benchmark, benchTextCol,
        n, benchBroadcastMaxBytes) match {
      case Left(probe) =>
        docs.select(col(idCol), probe(col(textCol)).as("_p"))
          .groupBy(idCol).agg(
            sum(col("_p.n_grams")).as("n_grams"),
            sum(col("_p.n_shared")).as("n_shared"))
      case Right(benchGrams) =>
        gramRows(docs, textCol, n, "_gram").select(col(idCol), col("_gram"))
          .join(benchGrams.hint("SHUFFLE_HASH"), col("_gram") === col("_bgram"), "left")
          .groupBy(idCol).agg(
            count(lit(1)).as("n_grams"),
            count(col("_bgram")).as("n_shared"))
    }
    // a gramless doc (under `n` pieces, or null text) scores (0, 0, 0.0)
    val nGrams = coalesce(col("n_grams"), lit(0L))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), nGrams.as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(nGrams === 0, lit(0.0))
          .otherwise(round(col("n_shared") / col("n_grams"), 4)).as("frac"))
  }

  /** One row per (doc, distinct word `n`-gram), for docs of at least `n`
    * pieces. Word-count filter, never a computed-column filter (see the
    * LSH note); `_w` is materialised before the gram transform so the
    * split isn't re-evaluated per gram inside the lambda. */
  private def gramRows(df: DataFrame, textC: String, n: Int, out: String): DataFrame =
    df.filter(TextStats.spaceTokens(col(textC)) >= n)
      .withColumn("_w", words(col(textC)))
      .withColumn(out, explode(array_distinct(wordNgrams(col("_w"), n))))

  /** The benchmark side of [[decontaminate]] and [[contaminationFraction]],
    * routed by Catalyst's own estimate of its distinct gram set
    * (`optimizedPlan.stats.sizeInBytes`, the signal
    * `autoBroadcastJoinThreshold` consults) against `maxBytes`:
    *  - Left: at or under it, the benchmark's texts are collected to the
    *    driver — fewer bytes than the gram set a broadcast join would
    *    collect to build its hash relation — windowed into a
    *    [[graft.functions.GramSet]] exactly as the probe windows a row,
    *    and shipped once as a `SparkContext.broadcast`; the result is the
    *    [[graft.functions.NgramProbe]] column over a text column;
    *  - Right: over it, the distinct gram frame (`_bgram`) for a
    *    shuffle-hash join.
    * A silently flipping route is a debugging trap at scale, so one log
    * line records the route and the estimate that chose it. */
  private def benchGramRoute(op: String, benchmark: DataFrame, benchTextCol: String,
                             n: Int, maxBytes: Long)
      : Either[Column => Column, DataFrame] = {
    val benchGrams = gramRows(benchmark, benchTextCol, n, "_bgram")
      .select(col("_bgram")).distinct()
    val est = benchGrams.queryExecution.optimizedPlan.stats.sizeInBytes
    val probe = est <= BigInt(maxBytes)
    log.info(s"$op: bench gram side estimated $est bytes (threshold $maxBytes) -> " +
      (if (probe) "BROADCAST gram-set probe" else "SHUFFLE_HASH join"))
    if (!probe) Right(benchGrams)
    else {
      // the texts, not their gram rows: one narrow job instead of the
      // distinct's shuffle + collect
      val texts = benchmark.filter(col(benchTextCol).isNotNull)
        .select(col(benchTextCol).cast("binary")).collect().map(_.getAs[Array[Byte]](0))
      val bc = benchmark.sparkSession.sparkContext
        .broadcast(graft.functions.GramSet.ofTexts(texts, n))
      Left(text => graft.functions.NgramProbe.ngramProbe(text, n, bc))
    }
  }

  /** Incremental (batch-vs-history) exact dedup — the production shape a
    * daily pipeline runs: keep only the `newDocs` whose normalised
    * content fingerprint ([[graft.operators.TextStats.contentFingerprint]],
    * lowercase + whitespace-collapsed md5) does NOT already appear in
    * `history`; re-crawled pages die, genuinely new ones survive.
    *
    * Scale shape: one left_anti join on the fingerprint. The history
    * side is corpus-sized at 100 TB, so it is explicitly routed
    * shuffle-hash (never broadcast, never sort-merge — an anti join
    * needs only the build-side hash table, not an order); both sides
    * shuffle once on the fingerprint and nothing corpus-sized reaches
    * the driver. History needs only its fingerprint column to ship.
    *
    * Also runs STREAM-STATIC: pass a `readStream` batch as `newDocs`
    * against a static history and the anti join executes per
    * micro-batch with no streaming state (StreamsSpec pins it) — the
    * continuous-ingest rendering of the same pipeline stage. */
  def dedupAgainst(newDocs: DataFrame, idCol: String, textCol: String,
                   history: DataFrame, historyTextCol: String): DataFrame =
    newDocs
      .withColumn("content_fp",
        graft.operators.TextStats.contentFingerprint(col(textCol)))
      .join(
        history.select(graft.operators.TextStats
          .contentFingerprint(col(historyTextCol)).as("_h_fp"))
          .hint("SHUFFLE_HASH"),
        col("content_fp") === col("_h_fp"), "left_anti")

  /** Word-bigram Jaccard similarity over an all-pairs join — for BOUNDED
    * candidate sets only (e.g. the output of [[lshCandidatePairs]] joined
    * back to text, or a pre-filtered id range). Not a scale path on its
    * own. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.1): DataFrame = {
    val w = col("_w")
    val grams = array_distinct(wordNgrams(w, 2))
    val d = docs.withColumn("_w", words(col(textCol)))
      .select(col(idCol), when(size(w) >= 2, grams)
        .otherwise(array().cast("array<string>")).as("_grams"))
    d.as("a").join(d.as("b"), col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as(s"${idCol}_a"), col(s"b.$idCol").as(s"${idCol}_b"),
        round(
          size(array_intersect(col("a._grams"), col("b._grams"))).cast("double") /
          size(array_union(col("a._grams"), col("b._grams"))), 4).as("jaccard"))
      .filter(col("jaccard") > threshold)
  }

  /** Exact-substring duplicated-span detection (the "Deduplicating
    * Training Data Makes Language Models Better" shape, discretised to
    * strided windows): every `n`-token window starting at token
    * `1, 1+stride, 1+2·stride, …` is hashed, and windows whose exact
    * content occurs in at least `minDocs` DISTINCT documents are
    * returned as (doc_id, start, gram_h, n_docs) span markers — the
    * input for span excision or doc-level down-weighting. Paragraph
    * dedup only sees duplication that respects paragraph boundaries;
    * this catches verbatim reuse at ANY alignment (quotes, licence
    * blocks, templated sentences) to within `stride` tokens.
    *
    * A suffix-array build (the paper's exact formulation) is a global
    * sort of every suffix — O(corpus) rows of O(doc) width, hostile at
    * 100 TB. The windowed relaxation keeps ~tokens/stride rows of hash
    * width and ONE keyed shuffle: windows are hashed in-row by the
    * native [[graft.functions.NgramSpanHashes]] expression (zero-copy
    * off the row's bytes on canonically-spaced text — the
    * transform/slice/array_join rendering paid an interpreted lambda
    * plus two allocations per token position, and was re-evaluated
    * over the corpus twice because the frequency aggregate and the
    * scoring join each referenced the span frame), then the distinct-
    * document count rides a dense_rank + max window pair over the
    * gram-hash key — never a count table joined back. Candidate
    * generation never leaves the window-hash buckets, the same
    * never-all-pairs contract as the LSH operators.
    *
    * Stride semantics — be precise, because the obvious reading is
    * wrong: `stride = 1` (the default) hashes EVERY window and detects
    * every exact duplicated run of ≥ n tokens at ANY alignment; its row
    * count (one per token) is the same explode cardinality the unigram
    * passes already pay. `stride > 1` divides that cost by `stride` but
    * windows exist only at starts ≡ 1 (mod stride) in BOTH documents,
    * so a duplicated run is caught only when the two occurrences agree
    * on alignment modulo stride — however long the run is. That makes
    * strided mode a cheap screen for START-ALIGNED reuse (prefixed
    * boilerplate, templated records), not a detector of
    * arbitrary-offset quotation. Tokens are ""-filtered before
    * windowing (the [[TextStats.bigramLogProb]] convention) and
    * sub-`n`-token docs contribute no windows. */
  def sharedNgramSpans(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, stride: Int = 1, minDocs: Int = 2): DataFrame = {
    require(n >= 1 && stride >= 1, "window and stride must be positive")
    import org.apache.spark.sql.expressions.Window
    val spans = docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.NgramSpanHashes
          .ngramSpanHashes(col(textCol), n, stride)).as("_s"))
      .select(col("doc_id"), col("_s.start").as("start"),
        col("_s.gram_h").as("gram_h"))
    // count DISTINCT docs per gram without a count-table join-back:
    // dense_rank over doc_id within the gram partition rises once per
    // distinct doc, so its partition max IS the distinct count — one
    // gram-keyed exchange+sort over the span frame, evaluated once
    val byGram = Window.partitionBy(col("gram_h"))
    val nDocs = max(dense_rank().over(byGram.orderBy(col("doc_id"))))
      .over(byGram.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    spans.withColumn("n_docs", nDocs.cast("long"))
      .filter(col("n_docs") >= minDocs)
      .select(col("doc_id"), col("start"), col("gram_h"), col("n_docs"))
  }

  /** Exact-substring REMOVAL — the act half of the detect/act pair that
    * [[sharedNgramSpans]] opens (the "deduplicate training data by
    * removing duplicated substrings" operation, cf. the reference's
    * whole-record dedup which drops rows, never spans). Every token
    * covered by a flagged window (an exact ≥`n`-token run shared by
    * ≥`minDocs` distinct documents) is excised FROM EVERY OCCURRENCE —
    * the symmetric contract, chosen over keep-one-copy because it is
    * deterministic without electing a canonical owner and composable
    * with a later document-level dedup pass; the survivors are rejoined
    * single-spaced in original order. Output: the id column, `outCol`
    * (the cleaned text — the canonical single-space rendering of the
    * ""-filtered token stream, so already-single-spaced corpora round-
    * trip unchanged) and `n_removed` (covered token count).
    *
    * Shape, stage by stage: the span pass is [[sharedNgramSpans]]'s
    * (one gram-keyed exchange, never all-pairs); flagged windows then
    * merge into disjoint intervals per document with one doc-keyed
    * window (gaps-and-islands: island opens where `start` clears the
    * running max end — O(spans) rows, O(1) window state); the merged
    * interval lists (flagged documents ONLY, usually a small fraction)
    * join back to the corpus on the id and a two-arg `filter` drops
    * covered tokens IN-ROW — the corpus itself never shuffles, and the
    * per-token cost is O(intervals-per-doc), post-merge disjoint so
    * bounded by tokens/(n+1). A relational rendering (posexplode +
    * range anti-join + re-agg) would shuffle every token of the corpus
    * twice; the in-row HOF is the 100 TB shape. */
  def removeSharedSpans(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, stride: Int = 1, minDocs: Int = 2,
                        outCol: String = "clean_text"): DataFrame =
    exciseFlagged(docs, idCol, textCol,
      sharedNgramSpans(docs, idCol, textCol, n, stride, minDocs), n, outCol)

  /** Surgical span-level decontamination — excise the OVERLAP, keep the
    * document: every ≥`n`-token run of a training doc that appears
    * verbatim in the benchmark set is removed (flag windows whose gram
    * hash is in the benchmark's window set, merge, excise via
    * [[exciseFlagged]]) while the rest of the document survives. The
    * whole-doc alternatives both lose real data:
    * [[decontaminate]]/[[contaminationFraction]] drop or down-rank the
    * entire doc for one quoted sentence; this keeps the un-leaked mass.
    * Both sides window at stride 1 — the any-alignment guarantee needs
    * every doc-side alignment AND every benchmark-side alignment in the
    * probe set.
    *
    * Shape: the benchmark's distinct window hashes route
    * broadcast/shuffle-hash by Catalyst's own size estimate (the
    * [[decontaminate]] convention, logged); the doc side is one narrow
    * windowed-hash explode semi-joined against them — the corpus never
    * sorts and never all-pairs — then the merge + in-row excision of
    * [[exciseFlagged]]. */
  def removeContaminatedSpans(docs: DataFrame, idCol: String, textCol: String,
                              benchmark: DataFrame, benchTextCol: String,
                              n: Int,
                              benchBroadcastMaxBytes: Long = 256L << 20,
                              outCol: String = "clean_text"): DataFrame = {
    val benchGrams = benchmark
      .select(explode(graft.functions.NgramSpanHashes
        .ngramSpanHashes(col(benchTextCol), n, 1)).as("_bs"))
      .select(col("_bs.gram_h").as("_bgram_h")).distinct()
    val benchEstBytes = benchGrams.queryExecution.optimizedPlan.stats.sizeInBytes
    val useBroadcast = benchEstBytes <= BigInt(benchBroadcastMaxBytes)
    log.info(
      s"removeContaminatedSpans: bench window side estimated $benchEstBytes " +
        s"bytes (threshold $benchBroadcastMaxBytes) -> " +
        (if (useBroadcast) "BROADCAST" else "SHUFFLE_HASH") + " join")
    val docSpans = docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.NgramSpanHashes
          .ngramSpanHashes(col(textCol), n, 1)).as("_s"))
      .select(col("doc_id"), col("_s.start").as("start"),
        col("_s.gram_h").as("gram_h"))
    val flagged =
      if (useBroadcast)
        docSpans.join(broadcast(benchGrams),
          col("gram_h") === col("_bgram_h"), "leftsemi")
      else
        docSpans.join(benchGrams.hint("SHUFFLE_HASH"),
          col("gram_h") === col("_bgram_h"), "leftsemi")
    exciseFlagged(docs, idCol, textCol, flagged, n, outCol)
  }

  /** The shared act half of the span pipelines: merge flagged windows
    * (`doc_id`, 1-based `start`, width `n`) into disjoint per-doc
    * intervals with one doc-keyed gaps-and-islands window, then excise
    * covered tokens IN-ROW with a two-arg `filter` — the corpus itself
    * never shuffles for the removal, and per-token cost is
    * O(intervals-per-doc), post-merge disjoint so bounded by
    * tokens/(n+1). A relational rendering (posexplode + range anti-join
    * + re-agg) would shuffle every corpus token twice. */
  private def exciseFlagged(docs: DataFrame, idCol: String, textCol: String,
                            flagged: DataFrame, n: Int,
                            outCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = flagged.withColumn("_end", col("start") + (n - 1))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    val prevMax = max(col("_end"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val intervals = spans
      .withColumn("_new",
        when(prevMax.isNull.or(col("start") > prevMax + 1), 1).otherwise(0))
      .withColumn("_island", sum(col("_new"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("_island"))
      .agg(min(col("start")).as("s"), max(col("_end")).as("e"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("_iv"))
    // _ws materialised BEFORE the HOFs (the repo's re-evaluation trap);
    // covered-token test captures the joined _iv alias, also materialised
    val toks = docs.select(col(idCol),
      filter(words(col(textCol)), w => w =!= "").as("_ws"))
    val kept = filter(col("_ws"), (w, i) =>
      !exists(col("_iv"), iv =>
        (i + 1 >= iv.getField("s")).and(i + 1 <= iv.getField("e"))))
    toks.join(intervals, toks(idCol) === intervals("doc_id"), "left")
      // _kept aliased once and referenced twice below — multi-referenced
      // aliases survive CollapseProject, an inline HOF would re-run per
      // consumer
      .withColumn("_kept", when(col("_iv").isNull, col("_ws")).otherwise(kept))
      .select(toks(idCol),
        array_join(col("_kept"), " ").as(outCol),
        (size(col("_ws")) - size(col("_kept"))).cast("long").as("n_removed"))
  }

  /** Paragraph-level dedup (the CCNet/RefinedWeb boilerplate-removal
    * shape): documents are split into `sep`-separated paragraphs, each
    * paragraph's corpus-wide document frequency is counted, and
    * paragraphs appearing in more than `maxDocs` DISTINCT documents
    * (navigation chrome, cookie banners, licence footers) are dropped
    * from every document while the survivors are reassembled in their
    * original order. This removes the repeated-boilerplate mass that
    * document-level dedup cannot see — near-identical pages differ, but
    * their shared chrome is byte-identical per paragraph.
    *
    * Scale shape: one narrow explode, then three keyed shuffles and
    * nothing else — the frequency groupBy (map-side-combined
    * count-distinct on the paragraph key), the paragraphs⋈frequency hash
    * join (both sides partitioned by the same paragraph key), and the
    * per-document reassembly groupBy. No all-pairs stage anywhere; a
    * viral boilerplate paragraph makes one hot KEY, which is one freq
    * row on the build side and AQE-skew-join territory on the probe
    * side, never a row explosion. Reassembly order rides a
    * `sort_array(collect_list(struct(pos, …)))` — sorting each doc's own
    * paragraphs, never a global sort. Every document survives to the
    * output (an all-boilerplate doc yields `clean_text = ""`), so the
    * operator composes with downstream length/quality filters instead of
    * silently dropping rows. */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     maxDocs: Long, sep: String = "\n"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val paras = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "para")))
    // distinct-doc frequency as a dense_rank+max window pair over the
    // paragraph key — the count-table join-back it replaces re-planned
    // the explode pipeline (second corpus scan) and paid the para-keyed
    // exchange TWICE (once under the aggregate, once under the join),
    // with the full paragraph string as the key both times
    val byPara = Window.partitionBy(col("para"))
    val nDocs = max(dense_rank().over(byPara.orderBy(col("doc_id"))))
      .over(byPara.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    paras.withColumn("n_docs", nDocs.cast("long"))
      .groupBy("doc_id")
      .agg(
        array_join(
          sort_array(collect_list(when(col("n_docs") <= maxDocs,
            struct(col("pos"), col("para"))))).getField("para"), sep)
          .as("clean_text"),
        count(lit(1)).as("n_paras"),
        sum((col("n_docs") > maxDocs).cast("long")).as("n_dropped"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbour search over an embedding column
  * (`array<float|double>`), in three tiers:
  *
  *   - [[cosineTopK]] — brute force against a small broadcast query set;
  *     the exactness baseline. Scales with candidate count only.
  *   - [[annLsh]] — random-hyperplane sign buckets; candidates meet inside
  *     their bucket (shuffle keyed by bucket, never all-pairs).
  *   - [[annIvf]] — coarse-quantizer cells (≈√N centroids so cell-key
  *     cardinality grows with the data); pair join is a salted shuffle-hash
  *     join, never a whole-table broadcast.
  *
  * All vector arithmetic runs on the native codegen'd [[dot]] — pairwise
  * dots directly, every squared-L2 via the `(v·v − 2·v·c) + ‖c‖²`
  * expansion over driver-resident constants ([[sqDistances]]) — never on
  * Spark higher-order functions, which always evaluate interpreted and
  * twice became the measured dominant cost at sf10 (first the LSH dot,
  * then the IVF assignment argmin — SCALING.md rounds 8 and 10). An
  * unrolled 64-term `element_at` sum is no alternative either: it
  * measured 4-5× slower (the generated method blows past
  * JIT/whole-stage-codegen size limits). The oracle-checked `x_ann_*`
  * queries pin every tier against DuckDB. */
object Ann {

  /** Elementwise dot product of two array columns — the native codegen'd
    * [[graft.functions.DotProduct]] (fold order matches both the
    * interpreted HOF rendering and DuckDB's `list_sum`, keeping results
    * oracle-stable; the HOF version never entered whole-stage codegen
    * and dominated the sf10 bench's thread dumps). */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayMath.dot(a, b)

  /** L2 norm of an array column. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Dot product against a constant vector. */
  def dotLit(a: Column, v: Seq[Double]): Column = dot(a, typedLit(v))

  /** Deterministic random-hyperplane sign matrix: sign[i][d] ∈ {-1,1} from
    * md5("i:d") — reproducible across runs, engines and languages. */
  def hyperplanes(numPlanes: Int, dim: Int): Seq[Seq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until numPlanes).map { i =>
      (0 until dim).map { d =>
        md.reset()
        val h = md.digest(s"$i:$d".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) -1 else 1
      }
    }
  }

  /** The LSH bucket id for an embedding column under `planes`. */
  def lshBucket(emb: Column, planes: Seq[Seq[Int]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dotLit(emb, p.map(_.toDouble)) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Brute-force cosine top-k: broadcast the (small) query set, score every
    * candidate, rank per query with a total order (cos desc, id asc). */
  def cosineTopK(candidates: DataFrame, queries: DataFrame,
                 idCol: String, embCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("_q_emb"),
      norm(col(embCol)).as("_q_nrm"))
    val scored = candidates.withColumn("_nrm", norm(col(embCol)))
      .crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol),
        (dot(col("_q_emb"), col(embCol)) / (col("_q_nrm") * col("_nrm"))).as("_cos"))
    val w = Window.partitionBy("q_id").orderBy(col("_cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col(idCol).as("neighbor"),
        round(col("_cos"), 4).as("cos_sim"))
  }

  /** The plane count that keeps the expected bucket population near
    * `targetBucketSize` for an `n`-vector corpus — the smallest p ≥ 1 with
    * target·2^p ≥ n, i.e. ceil(log2(n / target)) floored at 1, computed in
    * INTEGER arithmetic so an oracle in another engine can replicate it
    * exactly (float log2 differs by ULPs across libms at power-of-two
    * boundaries). Candidate-pair work per bucket is O(density²), so
    * holding density constant as the corpus grows is what keeps total
    * LSH cost linear (measured in SCALING.md). */
  def planesFor(n: Long, targetBucketSize: Long = 64): Int = {
    require(n > 0 && targetBucketSize > 0, "n and targetBucketSize must be positive")
    // overflow-safe rendering of target·2^p < n: compare target against
    // ceil(n / 2^p) instead of shifting target left (a large caller-supplied
    // target shifted 62 times wraps negative and the loop runs to 62)
    var p = 1
    while (p < 62 && targetBucketSize < ((n + (1L << p) - 1) >> p)) p += 1
    p
  }

  /** LSH ANN: best within-bucket neighbour per vector. The rank-1 is a
    * partial-aggregating `max_by`, not a window — it map-side combines
    * before the shuffle, the right shape when buckets hold millions.
    *
    * Sizing `planes`: bucket count is fixed at 2^planes, so at a FIXED
    * plane count a 10× corpus means 10× denser buckets and ~quadratic
    * growth of within-bucket candidate pairs. Grow the plane count with
    * the corpus ([[planesFor]]) to restore linear candidate-generation
    * cost — the plan shape is density-independent: bucket shuffle join,
    * never a cartesian. */
  def annLsh(vectors: DataFrame, idCol: String, embCol: String,
             planes: Seq[Seq[Int]]): DataFrame = {
    val sig = vectors.withColumn("bucket", lshBucket(col(embCol), planes))
      .withColumn("_nrm", norm(col(embCol)))
    val pairs = sig.as("a").hint("shuffle_hash").join(
        sig.as("b").hint("shuffle_hash"),
        col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as(idCol), col("a.bucket").as("bucket"),
        col(s"b.$idCol").as("neighbor"),
        round(dot(col(s"a.$embCol"), col(s"b.$embCol")) /
              (col("a._nrm") * col("b._nrm")), 4).as("cos_sim"))
    pairs.groupBy(idCol, "bucket")
      .agg(max_by(struct(col("neighbor"), col("cos_sim")),
                  struct(col("cos_sim"), -col("neighbor"))).as("best"))
      .select(col(idCol), col("bucket"),
        col("best.neighbor").as("neighbor"), col("best.cos_sim").as("cos_sim"))
  }

  /** IVF ANN: assign every vector to its nearest centroid cell (narrow
    * argmin over driver-resident centroid literals), then search within the
    * cell via a salted shuffle-hash join. `centroids` must be small enough
    * for the driver (≈√N grows as the square root of data volume).
    * `checkpointDir` selects how the index build is materialised — see
    * [[graft.runtime.Checkpoints]]: executor-local by default, reliable
    * when a directory is given (so losing an executor after the build
    * re-reads the index instead of killing the query). */
  /** Squared-L2 distances from vector column `v` to each driver-resident
    * constant vector in `cents`, in order, via the dot expansion
    * `(v·v − 2·v·c) + ‖c‖²` — since round 11 one native
    * [[graft.functions.CentroidSqDistances]] expression (two fixed-size
    * loops over a reference-array matrix). The previous renderings both
    * failed a size axis: interpreted HOFs carried the r9 sf10 cost, and
    * the K-wide `array(dot…)` expansion that replaced them grows
    * generated code linearly in K — past K ≈ 100 it crosses the JIT's
    * ~8 KB ceiling, and at the 8-bit PQ point (ksub = 256 → 2048 array
    * entries per projection) janino's hard 64 KB method limit, dropping
    * the stage to interpreted eval. Same expansion arithmetic and entry
    * order as both, so every oracle hash is unchanged. */
  private def sqDistances(v: Column, cents: Seq[Seq[Double]]): Column =
    graft.functions.ArrayMath.centroidSqDistances(v, cents)

  /** [[sqDistances]] over a named column — an array aligned with the
    * centroid order (driver-resident literal matrix — a narrow per-row
    * scan, no join). */
  private def sqDistances(embCol: String, centVecs: Seq[Seq[Double]]): Column =
    sqDistances(col(embCol), centVecs)

  /** The nearest-centroid cell id (first minimum wins — deterministic
    * because the centroid order is fixed and ids ascend). Backed by the
    * native [[graft.functions.NearestCentroid]] loop: the K-wide
    * `array(dot…)` + `array_min` rendering blows the JIT's bytecode
    * ceiling past K ≈ 100 and de-optimises the whole stage to the JVM
    * bytecode interpreter (measured — see the expression's scaladoc);
    * the native argmin is size-independent of K. Same expansion
    * arithmetic, so oracle hashes are unchanged. */
  private def nearestCell(embCol: String,
                          centroids: Seq[(Long, Seq[Double])]): Column =
    graft.functions.ArrayMath.nearestCentroid(
      col(embCol), centroids.map(_._1), centroids.map(_._2))

  /** Flat nearest-centroid assignment — adds `out` (the id of the
    * nearest centroid, first minimum wins) to `vectors`. A narrow
    * per-row native argmin over the literal centroid matrix
    * ([[graft.functions.NearestCentroid]]): no join, no shuffle, no
    * state — the same scan [[annIvf]] and the probe searchers build
    * on, exposed for consumers that need only the assignment (topic
    * clustering, cluster-balanced sampling, mixture bucketing). Cost
    * is O(K·dim) flops per row; for K past ~10³ prefer
    * [[assignCellsHier]]'s ~2√K-flop two-level pass. */
  def assignCells(vectors: DataFrame, embCol: String,
                  centroids: Seq[(Long, Seq[Double])],
                  out: String = "cell"): DataFrame =
    vectors.withColumn(out, nearestCell(embCol, centroids))

  /** Two-level (coarse → fine) nearest-centroid assignment — the
    * sub-O(N·K) index build. Centroids are grouped into ⌈√K⌉-sized
    * blocks in id order; each block's FIRST centroid is its coarse
    * representative. A row finds its nearest representative (ties →
    * lower block, exactly [[nearestCell]]'s first-minimum rule), then
    * the nearest centroid WITHIN that block only — ~2√K distance
    * computations per row instead of K, turning the O(N^1.5) √N-centroid
    * build into O(N·N^0.25). Both argmin tiers run FUSED inside the
    * single native [[graft.functions.NearestCentroidHier]] expression —
    * a CASE chain of per-block argmins would re-inline ~√K loop bodies
    * into one generated method and blow the JIT bytecode ceiling, the
    * exact disease the flat argmin hit at K ≈ 100 (measured: the CASE
    * rendering ran the sf10 probe pairing at 187–200 s vs 1.5 s flat;
    * SCALING.md round 10).
    *
    * The assignment is hierarchical, not exact: a row whose true nearest
    * centroid sits in a block whose representative is far away lands in
    * the neighbouring block instead — the standard recall/cost trade of
    * every coarse quantizer, pinned bit-for-bit by the `x_ann_ivf_hier`
    * oracle (DuckDB replicates block layout, both argmins and both
    * tie-breaks). Adds `out` (the cell id) to `vectors`.
    *
    * Measured caveat (SCALING.md, sf10 probe): the inexact assignment
    * SKEWS cell populations — Σpop² lands 6.2× the flat argmin's on the
    * sf10 embeddings — so pair it with probe-limited consumers
    * ([[ivfSearch]], [[ivfPqSearch]]), whose cost is linear in the
    * probed cells' populations, not with [[annIvf]]'s within-cell
    * all-pairs join, which pays Σpop² and ends up slower end-to-end
    * than the flat build it was meant to beat (76.1 s vs 48.3 s). */
  def assignCellsHier(vectors: DataFrame, embCol: String,
                      centroids: Seq[(Long, Seq[Double])],
                      out: String = "cell"): DataFrame = {
    val k = centroids.size
    val g = math.ceil(math.sqrt(k.toDouble)).toInt
    vectors.withColumn(out, graft.functions.ArrayMath.nearestCentroidHier(
      col(embCol), centroids.map(_._1), centroids.map(_._2), g))
  }

  /** Exhaustive-within-cell IVF: every vector's best cosine neighbour
    * among the vectors sharing its cell — the all-pairs-per-cell shape,
    * cost ∝ Σ(cell population)². The cell join is a SALTED shuffle-hash
    * join (never a corpus broadcast); the assignment is checkpointed
    * once as the index build.
    *
    * `twoLevel` exists for oracle parity with the `x_ann_ivf_hier` row
    * and is MEASURED SLOWER here than the default flat assignment
    * (SCALING.md): [[assignCellsHier]]'s inexact coarse pass skews cell
    * populations (Σpop² 6.2× flat on the sf10 embeddings), and this
    * operator's all-pairs consumer pays exactly that Σpop². Pair the
    * hier assignment with the probe-limited searchers instead —
    * [[ivfSearch]] / [[ivfPqSearch]] `(twoLevel = true)` — whose cost is
    * linear in the probed cells' populations. */
  def annIvf(vectors: DataFrame, idCol: String, embCol: String,
             centroids: Seq[(Long, Seq[Double])], salts: Int = 4,
             checkpointDir: Option[String] = None,
             twoLevel: Boolean = false): DataFrame = {
    val ckpt = graft.runtime.Checkpoints.policy(vectors.sparkSession, checkpointDir)
    // Materialise the assignment once (the IVF "index build"): both join
    // sides read it, and without this Spark recomputes the argmin scan per
    // side. Spills to disk above memory — the deliberate cost of an index.
    val withCell =
      if (twoLevel) assignCellsHier(vectors, embCol, centroids)
      else vectors.withColumn("cell", nearestCell(embCol, centroids))
    val assigned = ckpt(withCell.select(col(idCol), col(embCol),
      col("cell"), norm(col(embCol)).as("_nrm")))
    val build = assigned.select(col(idCol).as("_b_id"),
      col(embCol).as("_b_emb"), col("cell").as("_b_cell"),
      col("_nrm").as("_b_nrm"))
    val pairs = graft.runtime.Skew.saltedJoin(
        assigned.hint("shuffle_hash"), build.hint("shuffle_hash"),
        col("cell"), col("_b_cell"), salts = salts)
      .filter(col(idCol) =!= col("_b_id"))
      .select(col(idCol), col("cell"), col("_b_id").as("neighbor"),
        round(dot(col(embCol), col("_b_emb")) /
              (col("_nrm") * col("_b_nrm")), 4).as("cos_sim"))
    pairs.groupBy(idCol, "cell")
      .agg(max_by(struct(col("neighbor"), col("cos_sim")),
                  struct(col("cos_sim"), -col("neighbor"))).as("best"))
      .select(col(idCol), col("cell"),
        col("best.neighbor").as("neighbor"), col("best.cos_sim").as("cos_sim"))
  }

  /** The (ksub, rerank-R) operating point that holds compressed-search
    * recall as the corpus grows — the [[planesFor]] analogue for the
    * PQ/IVF-PQ family, closing round 11's open sizing question at the
    * honesty level the data supports.
    *
    * Grounding (SCALING.md "the third sizing law", measured on this
    * corpus family at two decades): at n = 2,000, ksub = 16 + R = 4k
    * reaches recall@5 0.600; at n = 20,000 that FIXED budget collapses
    * to 0.200 while ksub = 256 + R = 100 restores 0.850. The rule
    * reproduces both measured operating points exactly and interpolates
    * between them in integer arithmetic (oracle-replicable, like
    * [[planesFor]]):
    *
    *   - `ksub`: one doubling per corpus doubling from 16 at
    *     n = baseN, SATURATING at 256 — the 8-bit ceiling where a code
    *     stops fitting a byte and ADC tables stop being cache-resident.
    *     Past saturation ksub cannot buy more recall (measured: codes
    *     alone plateau at 0.275–0.350 on this corpus) — R is the axis
    *     that keeps paying.
    *   - `R`: max(4k, n / 200) — linear in the corpus, and cheap by
    *     construction (R·|Q| exact dot expansions via one broadcast-hash
    *     join; corpus-independent cost).
    *
    * Caveat on the label, not hidden: two corpus points define a line,
    * not a law of nature. The DIRECTION (grow both axes with n; R is
    * the cheap axis) is measured three ways (LSH planes, Lloyd samples,
    * this); the exact coefficients are this corpus family's. A corpus
    * with materially different cluster geometry should re-measure the
    * two endpoints with AnnRecallSpec/AnnRecallAtScaleSpec and re-fit
    * the two constants — the rule's FORM is the portable part. */
  def pqParamsFor(n: Long, k: Int, baseN: Long = 2000L): (Int, Int) = {
    require(n > 0 && k > 0 && baseN > 0, "n, k and baseN must be positive")
    // integer ceil(log2(n / baseN)), 0 when n <= baseN
    var doublings = 0
    while (doublings < 62 && baseN < ((n + (1L << doublings) - 1) >> doublings))
      doublings += 1
    val ksub = math.min(256L, 16L << doublings).toInt
    val r = math.max(4L * k, n / 200L)
    (ksub, math.min(r, n).toInt)
  }

  /** Deterministic product-quantisation codebooks: the embedding space is
    * split into `m` contiguous subspaces and each subspace gets the
    * corresponding slices of the first `ksub` corpus vectors by id as its
    * codes — the same fixed k-means seeding convention as the IVF
    * centroids, so another engine can reproduce the codebooks exactly
    * from the same table. Returns, per subspace, the `ksub` code
    * subvectors in code order (code id = seed ordinal). */
  def pqCodebooks(vectors: DataFrame, idCol: String, embCol: String,
                  m: Int, ksub: Int): Seq[Seq[Seq[Double]]] = {
    val seeds = vectors.orderBy(col(idCol)).limit(ksub)
      .select(col(embCol)).collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
        case x => x.toString.toDouble
      }.toSeq).toSeq
    require(seeds.nonEmpty, "pqCodebooks needs a non-empty corpus")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sd = dim / m
    (0 until m).map(j => seeds.map(_.slice(j * sd, j * sd + sd)))
  }

  /** [[pqCodebooks]] refined by `iters` deterministic Lloyd passes over
    * the first `sampleN` corpus vectors by id. The whole refinement runs
    * on the DRIVER (a sampleN × ksub × dim flop count — microseconds),
    * so another engine can reproduce the resulting codebooks exactly
    * from the same table: assignment uses the same dot-expansion
    * arithmetic as [[sqDistances]] (left-to-right double folds,
    * first-minimum tie → lower code), each refined code is the
    * element-wise mean of its members summed in vec_id order and divided
    * by the member count, and a code that attracts no members keeps its
    * previous vector. `iters = 0` returns [[pqCodebooks]]'s seeding
    * unchanged. Measured on the sf0.1 embeddings (AnnRecallSpec,
    * SCALING.md round 10): one pass lifts ADC recall@5 materially over
    * the untrained first-ksub seeding at identical search cost — the
    * codebook is a plan literal either way. */
  def pqCodebooksLloyd(vectors: DataFrame, idCol: String, embCol: String,
                       m: Int, ksub: Int, iters: Int = 1,
                       sampleN: Int = 256): Seq[Seq[Seq[Double]]] = {
    val sample: Array[Array[Double]] = vectors.orderBy(col(idCol)).limit(sampleN)
      .select(col(embCol)).collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
        case x => x.toString.toDouble
      }.toArray)
    require(sample.nonEmpty, "pqCodebooksLloyd needs a non-empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sd = dim / m
    // Primitive-array hot loop: the refinement is O(sampleN × ksub × dim)
    // per iteration, and at a corpus-sized sample (centroidsLloyd's 32·k
    // rule at sf10: 14k × 448 × 64) boxed Seq arithmetic puts SECONDS of
    // driver time on the query path. Every sum below folds in the same
    // left-to-right element/member order as the boxed rendering it
    // replaced, and the per-code norm is hoisted out of the sample loop
    // (same fold, computed once) — bit-identical results, which the
    // x_ann_pq_lloyd / x_ann_ivf_lloyd oracle hashes pin.
    def slice(v: Array[Double], j: Int): Array[Double] =
      java.util.Arrays.copyOfRange(v, j * sd, j * sd + sd)
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => sample.take(ksub).map(slice(_, j)))
    for (_ <- 0 until iters) {
      books = Array.tabulate(m) { j =>
        val subs = sample.map(slice(_, j))
        val book = books(j)
        // the exact expansion arithmetic of sqDistances, in driver doubles
        val norms = book.map { cvec =>
          var a = 0.0; var t = 0
          while (t < sd) { a += cvec(t) * cvec(t); t += 1 }
          a
        }
        val assigned = subs.map { s =>
          var s2 = 0.0
          var t = 0
          while (t < sd) { s2 += s(t) * s(t); t += 1 }
          var best = 0
          var bestD = Double.PositiveInfinity
          var c = 0
          while (c < book.length) {
            val cvec = book(c)
            var dotv = 0.0
            t = 0
            while (t < sd) { dotv += s(t) * cvec(t); t += 1 }
            val d = (s2 - 2.0 * dotv) + norms(c)
            if (d < bestD) { bestD = d; best = c } // strict: first min wins
            c += 1
          }
          best
        }
        Array.tabulate(book.length) { c =>
          var count = 0
          val acc = new Array[Double](sd)
          var i = 0
          while (i < subs.length) {
            if (assigned(i) == c) {
              val v = subs(i)
              var t = 0
              while (t < sd) { acc(t) += v(t); t += 1 }
              count += 1
            }
            i += 1
          }
          if (count == 0) book(c)
          else {
            var t = 0
            while (t < sd) { acc(t) /= count; t += 1 }
            acc
          }
        }
      }
    }
    books.map(_.map(_.toSeq).toSeq).toSeq
  }

  /** The IVF coarse quantizer's first-K-by-id seeding refined by `iters`
    * deterministic Lloyd passes, DISTRIBUTED: the E-step is one narrow
    * scan through the native codegen'd [[graft.functions.NearestCentroid]]
    * argmin (the same expression every IVF search path runs), the M-step
    * one `groupBy(cell)` aggregation whose per-cell member sum folds in
    * `vec_id` order — so the result is bit-identical to the driver loop
    * ([[pqCodebooksLloyd]] with one full-dimension subspace), which
    * LloydDistributedSpec pins element-for-element. The driver holds only
    * the k centroids between iterations (the same footprint as the
    * returned literal matrix); the 32·k-vector sample NEVER collects —
    * at a real 100 TB corpus (k ~ 10⁶) the old driver loop was a
    * multi-GB collect plus O(N·dim) driver flops, the one driver-side
    * bottleneck left in the ANN suite (round-10 verdict). The sample cut
    * itself is distributed too: the sn-th smallest id is found
    * executor-side over the 8-byte id column alone, then the sample is a
    * narrow pushed-down filter (`idCol` must be unique — it is an id —
    * for the threshold cut to equal `ORDER BY id LIMIT sn`).
    *
    * Arithmetic parity, engine-to-engine and path-to-path: assignment
    * uses the dot expansion with first-minimum ties → lower seed ordinal
    * (ids ascend, so grouping by id ≡ the driver loop's grouping by
    * ordinal); each refined centroid is the element-wise member mean,
    * summed member-by-member in `vec_id` order (`sort_array` over
    * (vid, vector) structs + a left-to-right `aggregate`/`zip_with`
    * fold — interpreted HOFs, but over k ROWS of ~32 members each, not
    * the corpus scan) and divided by the member count last; empty cells
    * keep their previous vector. Centroid ids stay the seed vectors' ids,
    * so [[nearestCell]]'s lower-id tie rule and every probe tie-break are
    * unchanged, and the `x_ann_ivf_lloyd` oracle re-derives the training
    * in SQL and hash-matches both paths.
    *
    * `driverSide = true` selects the original driver loop — the sensible
    * fast path when the sample genuinely fits (a few thousand vectors:
    * microseconds, zero Spark jobs) and the bit-parity witness for the
    * distributed default.
    *
    * Why refine the COARSE quantizer: first-K seeds sit wherever the
    * first K corpus vectors happen to sit, so cell populations skew —
    * and Σpop² is exactly what [[annIvf]]'s all-pairs consumer pays,
    * while probe-limited search pays the probed cells' population
    * variance. A Lloyd pass pulls centroids toward density and flattens
    * both (recall and balance deltas measured in AnnRecallSpec /
    * SCALING.md).
    *
    * `sampleN <= 0` (the default) sizes the sample to `32 × k` — ~32
    * members per cell. SIZE THE SAMPLE TO K, never fix it: a
    * sample-starved refinement is measurably WORSE than no refinement.
    * With ~6 members per cell (256 samples, 45 cells, the PQ default
    * transplanted verbatim) the cell means shrink toward the global
    * mean in unlucky directions — centroid norms fell to 0.44–0.81 on
    * the unit-norm sf0.1 embeddings, probe recall@5 halved (1.000 →
    * 0.500) and Σpop² ROSE 1.38× — while the same pass at ~32+
    * members per cell holds recall at 0.950 on this corpus (just under
    * the flat probe's 1.000 — the refinement's value is on corpora whose
    * seeds don't already cover the distribution) with Σpop² neutral. The
    * PQ refinement never met this trap only because its geometry
    * differs: 16 codes over 256 8-dim subvectors is already 16 members
    * per code. (`32 × k` keeps total E-step work O(N): sampleN × k ×
    * dim = 32·k²·dim ≈ 32·N·dim flops for the √N-centroid quantizer —
    * now spread across the cluster instead of burning one driver core.) */
  def centroidsLloyd(vectors: DataFrame, idCol: String, embCol: String,
                     k: Int, iters: Int = 1,
                     sampleN: Int = 0,
                     driverSide: Boolean = false): Seq[(Long, Seq[Double])] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val sn = if (sampleN <= 0) 32 * k else sampleN
    require(k <= sn,
      s"k ($k) centroids need at least that many sample vectors (sampleN = $sn)")
    if (driverSide) {
      val ids = vectors.orderBy(col(idCol)).limit(k)
        .select(col(idCol).cast("long")).collect().map(_.getLong(0)).toSeq
      require(ids.length == k,
        s"corpus has only ${ids.length} vectors for $k centroids")
      return ids.zip(pqCodebooksLloyd(vectors, idCol, embCol, m = 1, ksub = k,
        iters = iters, sampleN = sn).head)
    }
    // Seeds: the first k (id, vector) pairs by id — k rows, the same
    // driver footprint as the returned centroid matrix itself.
    val seeds: Seq[(Long, Seq[Double])] = vectors.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long"), col(embCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
        case x => x.toString.toDouble
      }.toSeq)).sortBy(_._1).toSeq
    require(seeds.length == k,
      s"corpus has only ${seeds.length} vectors for $k centroids")
    val dim = seeds.head._2.length
    val ids = seeds.map(_._1)
    // The sn-th smallest id, computed executor-side over ids only (the
    // vectors never ride through the top-n); LIMIT past the row count =
    // whole table, as in the oracle SQL.
    val thr = vectors.select(col(idCol).cast("long").as("_vid"))
      .orderBy(col("_vid")).limit(sn).agg(max(col("_vid"))).head.getLong(0)
    val sample = vectors.filter(col(idCol).cast("long") <= thr)
      .select(col(idCol).cast("long").as("_vid"), col(embCol).as("_v"))
    val zeros = typedLit(Seq.fill(dim)(0.0))
    var cents: Seq[Seq[Double]] = seeds.map(_._2)
    for (_ <- 0 until iters) {
      val assigned = sample.withColumn("_cell",
        graft.functions.ArrayMath.nearestCentroid(col("_v"), ids, cents))
      val agged = assigned.groupBy("_cell").agg(
        count(lit(1)).as("_cnt"),
        aggregate(
          sort_array(collect_list(struct(col("_vid"), col("_v")))),
          zeros,
          (acc, m) => zip_with(acc, m.getField("_v"),
            (x, y) => x + y.cast("double"))).as("_sum"))
      val meanMap: Map[Long, Seq[Double]] = agged
        .select(col("_cell"), transform(col("_sum"),
          x => x / col("_cnt").cast("double")).as("_mean"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
      cents = ids.zip(cents).map { case (id, prev) => meanMap.getOrElse(id, prev) }
    }
    ids.zip(cents)
  }

  /** PQ-encode: each vector becomes `m` small code ids (the nearest code
    * per subspace, first minimum wins). Output: idCol + `code_0..m-1`.
    * At 8×4-bit codes this is a 64× compression of a 64-float embedding —
    * the index that makes 100 TB ANN memory-resident. Narrow scan, no
    * shuffle; the codebook is a plan literal.
    *
    * The per-subspace argmin is the native [[graft.functions.NearestCentroid]]
    * (code ids 0..ksub−1), NOT the `array(dot…)` + `array_min` rendering
    * it replaced in round 11: a ksub-wide dot array inlines ksub loop
    * bodies into one generated method, which at the standard 8-bit
    * operating point (ksub = 256) crosses the JIT's ~8 KB bytecode
    * ceiling — the exact de-optimisation the flat IVF assignment hit at
    * K ≈ 100 (SCALING.md round 10). Same expansion arithmetic, same
    * first-minimum tie → lower code, so all oracle hashes are unchanged. */
  def pqEncode(vectors: DataFrame, idCol: String, embCol: String,
               codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = codebooks.length
    val sd = codebooks.head.head.length
    val withSubs = (0 until m).foldLeft(vectors.select(col(idCol), col(embCol))) {
      (df, j) => df.withColumn(s"_sub_$j", slice(col(embCol), j * sd + 1, sd))
    }
    val withCodes = (0 until m).foldLeft(withSubs) { (df, j) =>
      df.withColumn(s"code_$j",
        graft.functions.ArrayMath.nearestCentroid(col(s"_sub_$j"),
          codebooks(j).indices.map(_.toLong), codebooks(j)).cast("int"))
    }
    withCodes.select(col(idCol) +: (0 until m).map(j => col(s"code_$j")): _*)
  }

  /** Deterministic codebooks in RESIDUAL space for
    * [[ivfPqSearch]]`(residual = true)`: the first `ksub` corpus vectors
    * by id, each replaced by its residual to its nearest centroid
    * (driver argmin — same dot-expansion arithmetic and first-minimum
    * tie as [[graft.functions.NearestCentroid]], so another engine
    * re-derives the same seeds), then sliced into `m` subspaces exactly
    * like [[pqCodebooks]]. Residual-encoded corpora need residual-space
    * codes: raw-vector seeds sit on the unit sphere while residuals
    * cluster near the origin, so encoding one against the other wastes
    * the whole code range.
    *
    * Seeds start at the first id PAST the largest centroid id — not at
    * id 0 like [[pqCodebooks]] — because under the shared first-K-by-id
    * seeding convention the first vectors ARE the centroids, and a
    * centroid's residual to itself is the zero vector: seeding from id 0
    * yields ksub copies of ~0 and a degenerate one-code codebook
    * (measured: recall@5 0.150, WORSE than non-residual 0.275, before
    * this rule). `vec_id > max(cent_id)` is one pushed-down predicate in
    * either engine — no id-set membership test to ship. */
  def pqResidualCodebooks(vectors: DataFrame, idCol: String, embCol: String,
                          centroids: Seq[(Long, Seq[Double])],
                          m: Int, ksub: Int): Seq[Seq[Seq[Double]]] = {
    val maxCid = centroids.map(_._1).max
    val seeds = vectors.filter(col(idCol).cast("long") > maxCid)
      .orderBy(col(idCol)).limit(ksub)
      .select(col(embCol)).collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
        case x => x.toString.toDouble
      }.toArray)
    require(seeds.nonEmpty, "pqResidualCodebooks needs a non-empty corpus")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sd = dim / m
    val cm = centroids.map(_._2.toArray).toArray
    val norms = cm.map(_.foldLeft(0.0)((a, x) => a + x * x))
    val residuals = seeds.map { v =>
      var s2 = 0.0
      var i = 0
      while (i < dim) { s2 += v(i) * v(i); i += 1 }
      var best = Double.PositiveInfinity
      var bi = 0
      var c = 0
      while (c < cm.length) {
        val cv = cm(c)
        var dotv = 0.0
        i = 0
        while (i < dim) { dotv += v(i) * cv(i); i += 1 }
        val d = (s2 - 2.0 * dotv) + norms(c)
        if (d < best) { best = d; bi = c }
        c += 1
      }
      val cv = cm(bi)
      Array.tabulate(dim)(t => v(t) - cv(t))
    }
    (0 until m).map(j => residuals.toSeq.map(
      _.slice(j * sd, j * sd + sd).toSeq))
  }

  /** PQ ANN search by asymmetric distance computation: the corpus is
    * reduced to its PQ codes ONCE (narrow, [[pqEncode]]), each query
    * precomputes an `m × ksub` table of subspace distances to every code,
    * and a candidate's approximate distance is `m` table lookups summed in
    * subspace order — no per-pair float vector math at all. The query
    * side (queries × tables) broadcasts; the corpus never shuffles. This
    * is the named sub-O(N^1.5) seam beyond probe-limited IVF: per-query
    * scan cost is O(N·m) lookups regardless of dimension, and the encoded
    * corpus is ~64× smaller than the raw embeddings. Exactness is traded
    * for compression; PqSpec measures recall against brute force. */
  def pqSearch(vectors: DataFrame, queries: DataFrame,
               idCol: String, embCol: String,
               codebooks: Seq[Seq[Seq[Double]]], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = codebooks.length
    val sd = codebooks.head.head.length
    val encoded = pqEncode(vectors, idCol, embCol, codebooks)
    val qSubs = (0 until m).foldLeft(
      queries.select(col(idCol).as("q_id"), col(embCol).as("_q_emb"))) {
      (df, j) => df.withColumn(s"_qsub_$j", slice(col("_q_emb"), j * sd + 1, sd))
    }
    val qTables = (0 until m).foldLeft(qSubs) { (df, j) =>
      df.withColumn(s"_tbl_$j", sqDistances(col(s"_qsub_$j"), codebooks(j)))
    }.select(col("q_id") +: (0 until m).map(j => col(s"_tbl_$j")): _*)
    val adc = (0 until m).map(j =>
      element_at(col(s"_tbl_$j"), col(s"code_$j") + 1)).reduce(_ + _)
    val scored = encoded.crossJoin(broadcast(qTables))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol), adc.as("_adc"))
    val w = Window.partitionBy("q_id").orderBy(col("_adc").asc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col(idCol).as("neighbor"),
        round(col("_adc"), 4).as("adc_dist"))
  }

  /** Probe-limited IVF search — the sub-O(N^1.5) seam named in SCALING.md:
    * instead of every vector searching its whole cell ([[annIvf]]) or a
    * query set scanning the whole corpus ([[cosineTopK]]), each query
    * fans out to its `nprobe` NEAREST cells and scores only the vectors
    * assigned there, touching ≈ nprobe/K of the corpus per query.
    *
    * Scale shape: the corpus side is one narrow argmin assignment scan
    * followed by a broadcast-hash equi-join on the cell key (the exploded
    * query×nprobe side is small and broadcast) — the corpus never
    * shuffles and is never compared all-pairs. With `nprobe = K` the
    * result is EXACTLY [[cosineTopK]]'s (every cell probed), which
    * OperatorsSpec pins; recall degrades gracefully as nprobe shrinks.
    *
    * `twoLevel` selects the corpus assignment strategy: flat argmin over
    * all K centroids (exact, O(N·K) distances) or [[assignCellsHier]]'s
    * coarse→fine pass (~2√K distances per row) — the pairing that
    * assignment's scaladoc prescribes, since probe-limited search cost
    * is linear in the probed cells' populations and does not pay the
    * Σpop² skew penalty that sinks [[annIvf]]'s all-pairs consumer.
    * Queries always probe by exact distance to all K centroids (the
    * query side is tiny). */
  def ivfSearch(vectors: DataFrame, queries: DataFrame,
                idCol: String, embCol: String,
                centroids: Seq[(Long, Seq[Double])],
                nprobe: Int, k: Int, twoLevel: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nprobe >= 1 && nprobe <= centroids.size,
      s"nprobe must be in [1, ${centroids.size}], got $nprobe")
    val withCell =
      if (twoLevel) assignCellsHier(vectors, embCol, centroids)
      else vectors.withColumn("cell", nearestCell(embCol, centroids))
    val assigned = withCell.select(col(idCol), col(embCol),
      col("cell"), norm(col(embCol)).as("_nrm"))
    // nprobe nearest cells per query: sort (dist, cid) structs so ties
    // break on the lower centroid id, deterministically in any engine
    val probe = zip_with(
      sqDistances(embCol, centroids.map(_._2)),
      typedLit(centroids.map(_._1)),
      (d, id) => struct(d.as("dist"), id.as("cid")))
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("_q_emb"),
      norm(col(embCol)).as("_q_nrm"),
      explode(transform(slice(array_sort(probe), 1, nprobe),
        s => s.getField("cid"))).as("cell"))
    val scored = broadcast(q).join(assigned, Seq("cell"))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol),
        (dot(col("_q_emb"), col(embCol)) /
          (col("_q_nrm") * col("_nrm"))).as("_cos"))
    val w = Window.partitionBy("q_id").orderBy(col("_cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col(idCol).as("neighbor"),
        round(col("_cos"), 4).as("cos_sim"))
  }

  /** IVF-PQ: probe-limited cells ([[ivfSearch]]) scored by PQ asymmetric
    * distance ([[pqSearch]]) — the canonical compressed-index ANN at
    * 100 TB. The corpus is read in ONE narrow scan producing both its
    * cell id and its `m` PQ codes (centroids and codebooks are plan
    * literals — no join, no shuffle); each query broadcasts its `nprobe`
    * nearest cells and its `m × ksub` ADC tables; candidates meet in a
    * broadcast-hash equi-join on the cell key and cost `m` table lookups
    * each — no per-pair float vector math, and only ≈ nprobe/K of the
    * corpus is touched per query. With `nprobe = K` the ADC distances are
    * exactly [[pqSearch]]'s (every cell probed, every candidate scored
    * once — a corpus vector lives in exactly one cell), which
    * OperatorsSpec pins rank-for-rank.
    *
    * `residual = true` selects the classic IVF-PQ formulation: each
    * corpus vector is PQ-encoded as its residual `v − centroid(cell)`
    * (the native [[graft.functions.CentroidResidual]] — still one narrow
    * scan, no join), and each query builds its ADC tables PER PROBED
    * CELL from `q − centroid(cell)` (the query side is nprobe× bigger —
    * still broadcast-sized). Codebooks must then live in residual space
    * ([[pqResidualCodebooks]]).
    *
    * MEASURED CAVEAT (AnnRecallSpec / SCALING.md round 11): the textbook
    * residual win did NOT materialise under this repo's one-shot
    * deterministic seeding on the cluster-structured unit-norm test
    * corpus — recall@5 0.200 vs the raw encoding's 0.275 at ksub = 16,
    * and residual-space Lloyd made it WORSE (0.125–0.150), because raw
    * first-k seeds inherit the corpus's cluster directions while
    * residual seeds are within-cell noise samples whose member means
    * collapse toward zero. The classic result presumes codebooks trained
    * to convergence. With `rerank` on, both encodings land at the same
    * 0.600 — the exact pass absorbs the difference. The operator and its
    * oracle row (`x_ann_ivfpq_res`) pin the machinery for corpora where
    * residual geometry does pay; on one like the test corpus, prefer raw
    * codes + rerank.
    *
    * `rerank = R > 0` re-scores the ADC top-R candidates per query by
    * EXACT squared L2 against the raw embeddings and ranks on that —
    * the standard cure for ADC's quantisation-error inversion (more
    * probes admit more false candidates, so recall can FALL as nprobe
    * rises: measured `ivfpq_probe8` 0.200 < `ivfpq_probe3` 0.275,
    * AnnRecallSpec). The candidate set is R·|Q| rows — broadcast-sized
    * by construction — so the exact pass is one broadcast-hash join back
    * into the raw vectors (the corpus still never shuffles) costing
    * R·|Q| dot expansions. Output then carries `l2_dist` (exact) instead
    * of `adc_dist`.
    *
    * SIZE `ksub` AND `R` TO THE CORPUS — the same lesson as
    * [[planesFor]] and [[centroidsLloyd]]'s 32-per-cell rule, measured
    * at sf1 (SCALING.md round 11): a FIXED 16-code/top-20 configuration
    * collapses as the corpus grows 10× (recall@5 0.600 → 0.200, raw ADC
    * 0.275 → 0.025 — tighter true-neighbour gaps meet more
    * quantisation-error candidates), while growing the budget restores
    * it (ksub 256 + R 100 → 0.850 at sf1). Rerank cost is R·|Q| exact
    * dots — linear in R, independent of corpus size — so R is the cheap
    * axis to grow.
    *
    * Output: `q_id, rank, neighbor, adc_dist` (ascending approximate
    * squared L2, ties on the lower neighbor id); with re-ranking,
    * `q_id, rank, neighbor, l2_dist`. */
  def ivfPqSearch(vectors: DataFrame, queries: DataFrame,
                  idCol: String, embCol: String,
                  centroids: Seq[(Long, Seq[Double])],
                  codebooks: Seq[Seq[Seq[Double]]],
                  nprobe: Int, k: Int, twoLevel: Boolean = false,
                  residual: Boolean = false, rerank: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nprobe >= 1 && nprobe <= centroids.size,
      s"nprobe must be in [1, ${centroids.size}], got $nprobe")
    val m = codebooks.length
    val sd = codebooks.head.head.length
    val cids = centroids.map(_._1)
    val cvecs = centroids.map(_._2)
    // Corpus index: cell + codes in one pass (`twoLevel` swaps the flat
    // argmin for the hier assignment — see [[ivfSearch]]). Subvectors
    // materialise via withColumn first — referencing a slice() inside the
    // distance expression would re-evaluate it per codebook entry
    // (subexpression elimination doesn't reach HOF lambdas).
    val withCell =
      (if (twoLevel) assignCellsHier(vectors, embCol, centroids)
       else vectors.withColumn("cell", nearestCell(embCol, centroids)))
        .select(col(idCol), col(embCol), col("cell"))
    val encBase =
      if (residual) withCell.withColumn("_enc",
        graft.functions.ArrayMath.centroidResidual(
          col(embCol), col("cell"), cids, cvecs))
      else withCell.withColumn("_enc", col(embCol))
    val withSubs = (0 until m).foldLeft(encBase) { (df, j) =>
      df.withColumn(s"_sub_$j", slice(col("_enc"), j * sd + 1, sd))
    }
    val encoded = (0 until m).foldLeft(withSubs) { (df, j) =>
      df.withColumn(s"code_$j",
        graft.functions.ArrayMath.nearestCentroid(col(s"_sub_$j"),
          codebooks(j).indices.map(_.toLong), codebooks(j)).cast("int"))
    }.select(col(idCol) +: col("cell") +:
      (0 until m).map(j => col(s"code_$j")): _*)
    val probe = zip_with(
      sqDistances("_q_emb", cvecs),
      typedLit(cids),
      (d, id) => struct(d.as("dist"), id.as("cid")))
    val qBase = queries.select(col(idCol).as("q_id"), col(embCol).as("_q_emb"))
    val qSide =
      if (residual) {
        // residual tables depend on the probed cell, so the fan-out comes
        // FIRST and each (query, cell) row builds its own tables from
        // q − centroid(cell) — nprobe× the rows, still broadcast-sized
        val exploded = qBase.withColumn("cell",
          explode(transform(slice(array_sort(probe), 1, nprobe),
            s => s.getField("cid"))))
          .withColumn("_q_res", graft.functions.ArrayMath.centroidResidual(
            col("_q_emb"), col("cell"), cids, cvecs))
        val qSubs = (0 until m).foldLeft(exploded) { (df, j) =>
          df.withColumn(s"_qsub_$j", slice(col("_q_res"), j * sd + 1, sd))
        }
        (0 until m).foldLeft(qSubs) { (df, j) =>
          df.withColumn(s"_tbl_$j", sqDistances(col(s"_qsub_$j"), codebooks(j)))
        }.select(col("q_id") +: col("cell") +:
          (0 until m).map(j => col(s"_tbl_$j")): _*)
      } else {
        // ADC tables once per query, THEN the probe fan-out (explode
        // after the tables so they aren't recomputed per probed cell)
        val qSubs = (0 until m).foldLeft(qBase) {
          (df, j) => df.withColumn(s"_qsub_$j", slice(col("_q_emb"), j * sd + 1, sd))
        }
        val qTables = (0 until m).foldLeft(qSubs) { (df, j) =>
          df.withColumn(s"_tbl_$j", sqDistances(col(s"_qsub_$j"), codebooks(j)))
        }
        qTables.withColumn("cell",
          explode(transform(slice(array_sort(probe), 1, nprobe),
            s => s.getField("cid"))))
          .select(col("q_id") +: col("cell") +:
            (0 until m).map(j => col(s"_tbl_$j")): _*)
      }
    val adc = (0 until m).map(j =>
      element_at(col(s"_tbl_$j"), col(s"code_$j") + 1)).reduce(_ + _)
    val scored = broadcast(qSide).join(encoded, Seq("cell"))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol), adc.as("_adc"))
    if (rerank <= 0) {
      val w = Window.partitionBy("q_id").orderBy(col("_adc").asc, col(idCol))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("q_id"), col("rank"), col(idCol).as("neighbor"),
          round(col("_adc"), 4).as("adc_dist"))
    } else {
      val wAdc = Window.partitionBy("q_id").orderBy(col("_adc").asc, col(idCol))
      val cands = scored.withColumn("_arank", row_number().over(wAdc))
        .filter(col("_arank") <= rerank)
        .select(col("q_id"), col(idCol))
      // exact re-score: (v·v − 2·v·q) + q·q, every dot the native
      // codegen'd [[dot]] in the oracle's operand order — bit parity
      // with duckSqDist(candidate, query); corpus side re-aliased (the
      // candidate set descends from the same base relation)
      val corpus = vectors.select(col(idCol).as("_r_id"), col(embCol).as("_r_emb"))
      val exact = broadcast(cands.join(qBase, Seq("q_id")))
        .join(corpus, col(idCol) === col("_r_id"))
        .select(col("q_id"), col(idCol),
          ((dot(col("_r_emb"), col("_r_emb"))
            - lit(2.0) * dot(col("_r_emb"), col("_q_emb")))
            + dot(col("_q_emb"), col("_q_emb"))).as("_l2"))
      val w = Window.partitionBy("q_id").orderBy(col("_l2").asc, col(idCol))
      exact.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("q_id"), col("rank"), col(idCol).as("neighbor"),
          round(col("_l2"), 4).as("l2_dist"))
    }
  }

  /** SemDedup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * deduplication over an embedding column. K-means cells give semantic
    * locality; near-duplicate candidates meet within a cell; each
    * duplicate pair keeps the member FARTHEST from its cell centroid
    * (lowest centroid-cosine — the paper's keep-outliers policy, which
    * preserves diversity at a given dedup rate). Emits the DROP LIST:
    * one row per dropped vector with its cell, its centroid-cosine and
    * its strongest witness `(vec, cell, cent_cos, witness, cos_sim)` —
    * the highest-cosine cell-mate that outranks it (which may itself be
    * dropped by a third vector); consumers anti-join the drop list
    * against the corpus.
    *
    * Drop rule (deterministic, oracle-pinned): `b` is dropped iff some
    * cell-mate `a` in the same LSH bucket has `cos(a,b) >= tau` and
    * `(ccos_a, id_a) < (ccos_b, id_b)` lexicographically on the
    * 4-dp-rounded centroid-cosines — the pairwise-greedy rendering of
    * the paper's keep-one-per-group policy (ties broken by id, so both
    * engines derive the identical kept set).
    *
    * Scale shape, where the paper's formulation would not hold: exact
    * SemDedup compares ALL pairs within a cluster — Σpop², the same
    * N^1.5 disease that demoted `x_ann_ivf` to a negative control. Here
    * candidates must share `(cell, LSH bucket)` with a CORPUS-SIZED
    * plane count ([[planesFor]], target bucket ~64), so pair work stays
    * ~linear in N while the cluster key still scopes candidates
    * semantically. Assignment is the narrow native argmin (no shuffle);
    * the √N-row centroid frame joins as an explicit broadcast; the
    * signature frame is checkpointed once (the index build) and both
    * self-join sides read it — one exchange, reused. */
  def semDedup(vectors: DataFrame, idCol: String, embCol: String,
               centroids: Seq[(Long, Seq[Double])], planes: Seq[Seq[Int]],
               tau: Double, checkpointDir: Option[String] = None): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val ckpt = graft.runtime.Checkpoints.policy(spark, checkpointDir)
    val cents = broadcast(centroids.toDF("_cent_id", "_cent"))
    val sig = ckpt(assignCells(vectors, embCol, centroids)
      .withColumn("bucket", lshBucket(col(embCol), planes))
      .withColumn("_nrm", norm(col(embCol)))
      .join(cents, col("cell") === col("_cent_id"))
      // centroid-cosine: same operand order as the pair cosine below and
      // the DuckDB twin, so the rounded doubles agree bit-for-bit
      .withColumn("ccos", round(
        dot(col(embCol), col("_cent")) / (col("_nrm") * norm(col("_cent"))), 4))
      .select(col(idCol), col(embCol), col("cell"), col("bucket"),
        col("_nrm"), col("ccos")))
    val witness = sig.select(col(idCol).as("_w_id"), col(embCol).as("_w_emb"),
      col("cell").as("_w_cell"), col("bucket").as("_w_bucket"),
      col("_nrm").as("_w_nrm"), col("ccos").as("_w_ccos"))
    // bucket populations are sized (~64), so the plain two-key
    // shuffle-hash join needs no salting — AQE skew-split backs it up
    val dropped = sig.hint("shuffle_hash").join(witness.hint("shuffle_hash"),
        col("cell") === col("_w_cell") && col("bucket") === col("_w_bucket") &&
        col(idCol) =!= col("_w_id"))
      .filter(col("_w_ccos") < col("ccos") ||
        (col("_w_ccos") === col("ccos") && col("_w_id") < col(idCol)))
      .select(col(idCol), col("cell"), col("ccos"), col("_w_id"),
        round(dot(col(embCol), col("_w_emb")) /
              (col("_nrm") * col("_w_nrm")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= tau)
    // witness tie-break: highest cos_sim, then SMALLEST witness id —
    // min_by on struct(-cos_sim, _w_id) orders any id type (a negated
    // string id would implicit-cast to null and void the tie-break)
    dropped.groupBy(col(idCol), col("cell"), col("ccos"))
      .agg(min_by(struct(col("_w_id").as("witness"), col("cos_sim")),
                  struct(-col("cos_sim"), col("_w_id"))).as("_best"))
      .select(col(idCol), col("cell"), col("ccos").as("cent_cos"),
        col("_best.witness").as("witness"), col("_best.cos_sim").as("cos_sim"))
  }

  /** A [[semDedup]] index PACKED for lookup: one row per (cell, LSH
    * bucket) with the member (id, emb, norm) structs inlined as an
    * array. Bucket populations are held ~64 by [[planesFor]]'s sizing
    * law, so a member array is a bounded in-row object, and an ingest
    * stream can probe the whole index with ONE stateless stream-static
    * equi-join ([[semDropAtIngest]]) instead of
    * a stateful pair stage. Member order inside an array is
    * nondeterministic (collect_list); every consumer must select
    * witnesses by VALUE (max cos, then min id), never by position. */
  def semIndexBuckets(vectors: DataFrame, idCol: String, embCol: String,
                      centroids: Seq[(Long, Seq[Double])],
                      planes: Seq[Seq[Int]]): DataFrame =
    assignCells(vectors, embCol, centroids)
      .withColumn("bucket", lshBucket(col(embCol), planes))
      .withColumn("_nrm", norm(col(embCol)))
      .groupBy(col("cell"), col("bucket"))
      .agg(collect_list(struct(col(idCol).as("id"), col(embCol).as("emb"),
        col("_nrm").as("nrm"))).as("members"))
      .select(col("cell"), col("bucket"), col("members"),
        lit(semParamsFingerprint(centroids, planes)).as("built_fp"),
        lit(centroids.size).as("built_cells"),
        lit(planes.size).as("built_planes"))

  /** Deterministic 64-bit fingerprint of a semantic index's build
    * parameters — the (centroid id, centroid vector) sequence and the
    * hyperplane sign matrix, hashed in order through an FNV-1a fold over
    * `Double.doubleToLongBits` (bit-exact, no string formatting, no
    * float tolerance). `cell` ids are meaningless under different
    * centroids and `bucket` ids under different planes, so two indexes
    * agree on keys iff they agree on this fingerprint; a re-derived but
    * VALUE-identical parameter set fingerprints identically (the common
    * "recompute the same centroids" case merges without a rebuild). */
  def semParamsFingerprint(centroids: Seq[(Long, Seq[Double])],
                           planes: Seq[Seq[Int]]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(v: Long): Unit = {
      var x = v
      var i = 0
      while (i < 8) { h ^= (x & 0xff); h *= 0x100000001b3L; x >>>= 8; i += 1 }
    }
    centroids.foreach { case (id, vec) =>
      mix(id); vec.foreach(d => mix(java.lang.Double.doubleToLongBits(d)))
    }
    mix(planes.size)
    planes.foreach(p => p.foreach(s => mix(s.toLong)))
    h
  }

  /** The `members` column of a stamped packed semantic index
    * ([[semIndexBuckets]]'s shape), guarded by the build-parameter
    * fingerprint — the [[graft.operators.TextDedup.stampedMembers]]
    * pattern on the embedding track: reading it with MATCHING
    * (`centroids`, `planes`) yields the members unchanged; a mismatch
    * raises a runtime error naming both sides on the first bucket row
    * touched (before the stamp, a probe under different centroids or
    * planes silently mis-keyed every (cell, bucket) lookup and
    * semantic near-dups sailed through with no error). Constant-folded
    * away while the index is plan-literal; three constant comparisons
    * per row after a checkpoint. Throws at plan-construction time if
    * the frame lacks the stamp columns. */
  private[graft] def stampedSemMembers(index: DataFrame,
                                       centroids: Seq[(Long, Seq[Double])],
                                       planes: Seq[Seq[Int]]): Column = {
    val stamp = Seq("built_fp", "built_cells", "built_planes")
    require(stamp.forall(index.columns.contains),
      s"packed semantic index lacks the build-parameter stamp columns " +
        s"${stamp.mkString("/")} — rebuild it with semIndexBuckets " +
        s"(got columns: ${index.columns.mkString(", ")})")
    val fp = semParamsFingerprint(centroids, planes)
    when(col("built_fp") === lit(fp), col("members"))
      .otherwise(raise_error(concat(
        lit(s"semantic index parameter mismatch: configured " +
          s"${centroids.size} centroids / ${planes.size} planes " +
          s"(fingerprint $fp) but the index was built with "),
        col("built_cells").cast("string"), lit(" centroids / "),
        col("built_planes").cast("string"), lit(" planes (fingerprint "),
        col("built_fp").cast("string"),
        lit(") — cell and bucket keys are not comparable across " +
          "parameter sets; rebuild the index"))))
  }

  /** Semantic drop-at-ingest against a BATCH-BUILT SemDedup index: each
    * arriving embedded document is assigned its nearest centroid
    * (plan-literal, row-local native argmin), LSH-bucketed (plan-literal
    * planes), probed against the packed index ([[semIndexBuckets]])
    * with ONE stream-static left equi-join on (cell, bucket), and
    * judged IN-ROW over the bucket's ~64 members — dropped iff some
    * indexed member reaches `cos ≥ tau` (4-dp rounded, [[semDedup]]'s
    * rounding). One output row per ingested doc: (id, cell, cent_cos,
    * witness, cos_sim, dropped) — witness = highest-cosine member,
    * ties to the smallest id (selected by VALUE via an array_min over
    * (−cos, id) structs, so collect_list's member order never matters).
    *
    * STATELESS by construction — every operator is row-local or a
    * stream-static join, so the query runs in append mode with no
    * watermark and no keyed state; the same DataFrame code runs
    * unchanged on a batch frame (StreamsSpec pins the two bit-equal).
    * Policy note: ingest priority, not [[semDedup]]'s symmetric
    * greedy — an arriving duplicate always loses to the index, whatever
    * its centroid-cosine; self-ids already present in the index are
    * excluded so re-ingest replays are idempotent.
    *
    * `centroids`/`planes` must fingerprint-match the index's build
    * parameters — ENFORCED against the stamp columns
    * ([[stampedSemMembers]]): a mismatched probe raises instead of
    * silently mis-keying every bucket lookup.
    *
    * Scale shape: the index is O(corpus) but bucket-PACKED (~64-member
    * rows); the stream side never shuffles — the join is the static
    * side's lookup. Unlike the simhash twin (24 B/member, broadcastable
    * by construction at any corpus size), the members here CARRY the
    * embedding vectors (~4·dim B each), so the probe join has two
    * regimes: under the broadcast threshold it is the BroadcastHashJoin
    * lookup the small-scale plan shows; past it Spark co-partitions
    * both sides on (cell, bucket) — measured at sf10 (index ~105 MB):
    * sort-merge with one exchange per side, 4.2 s for the full 200k
    * probe. Either plan judges in-row over ~64 members; neither is
    * ever all-pairs. If per-batch probing at the co-partitioned scale
    * becomes the measured cost, the amortization path is persisting
    * the refreshed index as a (cell, bucket)-bucketed table
    * ([[graft.runtime.Bucketing]]) so the index-side exchange+sort is
    * priced per refresh instead of per probe. The in-row
    * member scan is two interpreted HOFs over ≤~64 elements around the
    * native dot; if ingest throughput ever makes that the measured
    * bottleneck, the upgrade path is a native best-witness expression
    * (the BpeSegment playbook). */
  def semDropAtIngest(docs: DataFrame, idCol: String, embCol: String,
                      index: DataFrame,
                      centroids: Seq[(Long, Seq[Double])],
                      planes: Seq[Seq[Int]], tau: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cents = broadcast(centroids.toDF("_cent_id", "_cent"))
    assignCells(docs, embCol, centroids)
      .withColumn("bucket", lshBucket(col(embCol), planes))
      .withColumn("_nrm", norm(col(embCol)))
      .join(cents, col("cell") === col("_cent_id"))
      .withColumn("cent_cos", round(
        dot(col(embCol), col("_cent")) / (col("_nrm") * norm(col("_cent"))), 4))
      // the stamp guard rides the members read (the simhash gate's
      // pattern): a probe under different centroids/planes than the
      // index was built with raises on the first bucket row instead of
      // silently mis-keying every (cell, bucket) lookup
      .join(index.select(col("cell"), col("bucket"),
          stampedSemMembers(index, centroids, planes).as("members")),
        Seq("cell", "bucket"), "left")
      .withColumn("_cands", filter(
        transform(col("members"), m => struct(
          (-round(dot(col(embCol), m.getField("emb")) /
            (col("_nrm") * m.getField("nrm")), 4)).as("ncos"),
          m.getField("id").as("witness"))),
        c => (-c.getField("ncos") >= tau) && c.getField("witness") =!= col(idCol)))
      .withColumn("_best", array_min(col("_cands")))
      .select(col(idCol), col("cell"), col("cent_cos"),
        col("_best.witness").as("witness"),
        (-col("_best.ncos")).as("cos_sim"),
        col("_best").isNotNull.as("dropped"))
  }

  /** Incremental refresh of a packed semantic index: fold `newVectors`
    * into an existing [[semIndexBuckets]] output WITHOUT re-reading the
    * corpus it was built from — the
    * [[graft.operators.TextDedup.simhashIndexMerge]] pattern on the
    * embedding track. The batch is assigned/bucketed/normed alone
    * (O(batch) work), unioned with the existing buckets, and
    * re-flattened with ONE (cell, bucket) exchange over index bytes —
    * ~(8 B id + 4·dim B emb + 8 B nrm) per member, the corpus
    * embeddings themselves never re-scanned.
    *
    * Contract: `centroids`/`planes` MUST fingerprint-match the values
    * the index was built with — ENFORCED via the stamp
    * ([[stampedSemMembers]]); a mismatched merge raises instead of
    * silently mis-keying every folded bucket. Ids already present are
    * NOT deduplicated here (a doc never witnesses itself and duplicate
    * witnesses tie on (cos, id) — but callers replaying history should
    * anti-join first, or use [[refreshSemIndex]]'s `dropKnownIds`). */
  def semIndexMerge(index: DataFrame, newVectors: DataFrame,
                    idCol: String, embCol: String,
                    centroids: Seq[(Long, Seq[Double])],
                    planes: Seq[Seq[Int]]): DataFrame = {
    val delta = semIndexBuckets(newVectors, idCol, embCol, centroids, planes)
    index.select(col("cell"), col("bucket"),
        stampedSemMembers(index, centroids, planes).as("members"))
      .unionAll(delta.select(col("cell"), col("bucket"), col("members")))
      .groupBy(col("cell"), col("bucket"))
      .agg(flatten(collect_list(col("members"))).as("members"))
      .select(col("cell"), col("bucket"), col("members"),
        lit(semParamsFingerprint(centroids, planes)).as("built_fp"),
        lit(centroids.size).as("built_cells"),
        lit(planes.size).as("built_planes"))
  }

  /** The packed semantic index's REFRESH LIFECYCLE —
    * [[graft.operators.TextDedup.refreshSimhashIndex]] on the embedding
    * track, with the same three decisions owned:
    *
    *   1. '''Build or merge.''' The plane count is the lifecycle's (the
    *      [[planesFor]] law on the post-refresh vector count — the
    *      analogue of the simhash width law); `centroids` stay the
    *      CALLER's (they are a learned model, not a sizing law — train
    *      them with [[centroidsLloyd]] and re-derive when the corpus
    *      distribution shifts). If (centroids, sized planes) fingerprint-
    *      match the index's stamp, the batch MERGES at O(batch) +
    *      O(index bytes); a plane-count step or a centroid change
    *      REBUILDS once from `fullCorpus` — the only path that evaluates
    *      it (by-name).
    *   2. '''Replay guard.''' With `dropKnownIds` (default), batch
    *      vectors whose ids are already indexed are anti-joined away
    *      BEFORE counting and assigning. Every vector lands in exactly
    *      one (cell, bucket), so the known-id explode is one pass over
    *      the index members with no distinct; the anti join is id-keyed
    *      (history is corpus-sized; never broadcast).
    *   3. '''Checkpoint ownership.''' New index eagerly checkpointed,
    *      intermediates and the predecessor's pinned blocks released —
    *      K refreshes pin ONE index, not K. The predecessor frame is
    *      SPENT after this returns.
    *
    * Driver-side cost, all bounded: one stamp `head`, one index-sized
    * member count, one O(batch) count. `current = None` (or an empty
    * index) is the first build — sized on the batch alone, `fullCorpus`
    * not evaluated. Returns the new checkpointed index, stamped like
    * every [[semIndexBuckets]] output. */
  def refreshSemIndex(current: Option[DataFrame], newVectors: DataFrame,
                      idCol: String, embCol: String,
                      fullCorpus: => DataFrame,
                      centroids: Seq[(Long, Seq[Double])],
                      targetBucketSize: Long = 64,
                      dropKnownIds: Boolean = true): DataFrame = {
    import graft.runtime.Checkpoints
    val spark = newVectors.sparkSession
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    require(centroids.nonEmpty, "refreshSemIndex needs at least one centroid")
    val dim = centroids.head._2.length
    val stamped = current.filter { idx =>
      val stamp = Seq("built_fp", "built_cells", "built_planes")
      require(stamp.forall(idx.columns.contains),
        "refreshSemIndex: current index lacks the build-parameter stamp " +
          s"${stamp.mkString("/")} — rebuild it with semIndexBuckets " +
          "before handing it to the lifecycle")
      !idx.isEmpty
    }
    stamped match {
      case None =>
        val n = newVectors.count()
        val planes = hyperplanes(planesFor(n max 1, targetBucketSize), dim)
        log.info(s"refreshSemIndex: first build, $n vectors at " +
          s"${planes.size} planes")
        Checkpoints.withLocalCheckpointScope(spark)(
          semIndexBuckets(newVectors, idCol, embCol, centroids, planes))
      case Some(index) =>
        val stamp = index.select(col("built_fp"), col("built_cells"),
          col("built_planes")).head()
        val (curFp, curPlanes) = (stamp.getLong(0), stamp.getInt(2))
        // every vector appears in exactly one (cell, bucket): exact
        // count and the replay guard's id set in one member pass
        val indexedCount = index
          .agg(coalesce(sum(size(col("members"))), lit(0L))).head().getLong(0)
        val out = Checkpoints.withLocalCheckpointScope(spark) {
          val batch =
            if (dropKnownIds)
              newVectors.join(
                index.select(explode(col("members.id")).as("_known_id")),
                col(idCol).cast("long") === col("_known_id"), "left_anti")
                .localCheckpoint()
            else newVectors
          val batchCount = batch.count()
          val planes = hyperplanes(
            planesFor((indexedCount + batchCount) max 1, targetBucketSize), dim)
          if (semParamsFingerprint(centroids, planes) == curFp) {
            log.info(s"refreshSemIndex: merging $batchCount vectors into " +
              s"$indexedCount at ${planes.size} planes")
            semIndexMerge(index, batch, idCol, embCol, centroids, planes)
          } else {
            log.info("refreshSemIndex: parameter change " +
              s"($curPlanes planes -> ${planes.size}, or new centroids) " +
              "— rebuilding from the corpus")
            semIndexBuckets(fullCorpus, idCol, embCol, centroids, planes)
          }
        }
        Checkpoints.releaseLocal(index)
        out
    }
  }
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (SURVEY §7.9).
  *
  * Baseline: brute-force cosine top-k (exact; the right answer at small
  * query-set sizes — the corpus scan is embarrassingly parallel and
  * never shuffles the corpus).
  * Scale path: random-hyperplane LSH bucketing — candidates only form
  * within a bucket, so the all-pairs product never materializes; recall
  * is tested against the brute-force baseline (SimilaritySpec).
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated in double in
    * index order (deterministic, engine-portable). Backed by the codegen
    * [[graft.functions.DotProduct]] expression — the equivalent
    * zip_with/aggregate formulation runs interpreted (no codegen for
    * higher-order functions) and was the bench hotspot for cosine
    * scoring. Results are bit-identical. */
  def dot(a: Column, b: Column): Column =
    graft.functions.CustomExpressions.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))


  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (excluding itself). Query side should be small —
    * it is broadcast, so the big corpus never shuffles. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val scored = c.join(broadcast(q), $"q_id" =!= $"n_id")
      .select($"q_id", $"n_id", cosine($"q_vec", $"n_vec").as("cos"))
    val w = Window.partitionBy($"q_id").orderBy(desc("cos"), $"n_id")
    scored.withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"q_id", $"n_id", $"rank", floorQ4($"cos").as("cos_q4"))
  }

  /** Top principal component by QUANTIZED POWER ITERATION — the
    * embedding-space readout behind whitening, anisotropy checks ("is
    * the space collapsing to one direction"), and outlier axes. The
    * whole trajectory is a DEFINED integer procedure both engines
    * replay bit-for-bit:
    *  - components quantize to signed q3; the co-moment matrix
    *    C = n·Σxᵢxⱼ − Σxᵢ·Σxⱼ (n²-scaled covariance) is exact in longs;
    *  - C prescales by div 2²⁰ (headroom: the later u·10⁴ rescale must
    *    stay inside a long — ~6 significant digits is far beyond what
    *    direction recovery needs);
    *  - `iters` rounds of u = C·v, v' = (u·10⁴) div max|u| keep v in
    *    q4; signed truncating division is identical cross-engine;
    *  - the sign convention pins the component whose |value| is
    *    largest (lowest dim on ties) to be POSITIVE — eigenvectors are
    *    sign-ambiguous, a convention makes the output a function.
    *
    * Scale shape: the only corpus-sized work is the product pass
    * (narrow double-posexplode → one (i,j) map-side-combined aggregate
    * of dim² cells); every round then runs on dim²/dim-row frames. At
    * 100 TB the product pass is the one full scan — the same cost
    * profile as any exact second-moment computation. */
  def topComponent(embeddings: DataFrame, dim: Int = 64,
      iters: Int = 3): DataFrame = {
    val (_, v) = powerIterate(embeddings, dim, iters)
    val pin = v.agg(min(struct((-abs($"x")).as("na"), $"dim".as("dim"),
        $"x".as("xv"))).as("_k"))
      .select($"_k.xv".as("xk"))
    v.crossJoin(broadcast(pin))
      .select($"dim", when($"xk" < 0, -$"x").otherwise($"x").as("comp_q4"))
  }

  /** Shared core of [[topComponent]] / [[anisotropy]]: the prescaled
    * co-moment matrix (checkpoint-barriered — read every round) and the
    * q4 iterate after `iters` rounds. */
  private def powerIterate(embeddings: DataFrame, dim: Int,
      iters: Int): (DataFrame, DataFrame) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = embeddings.sparkSession
    graft.ops.Iterate.loop("powerIterate", iters) { l =>
      // the sums pass AND the product pass read q
      l.stage("vectors")
      val q = graft.ops.Iterate.loopBarrier(
        embeddings.where(dot($"embedding", $"embedding") > 0)
          .select(transform($"embedding",
            x => floor(x * 1000).cast("long")).as("_v")))
      val sums = q.agg(count(lit(1)).as("n"),
        array((0 until dim).map(i => sum(element_at($"_v", i + 1))): _*).as("s"))
      val pr = q.select(posexplode($"_v").as(Seq("i0", "xi")), $"_v")
        .select($"i0", $"xi", posexplode($"_v").as(Seq("j0", "xj")))
        .groupBy($"i0", $"j0").agg(sum($"xi" * $"xj").as("p"))
      l.stage("comoments")
      val covB = graft.ops.Iterate.loopBarrier(pr.crossJoin(broadcast(sums))
        .select(($"i0" + 1).cast("long").as("i"), ($"j0" + 1).cast("long").as("j"),
          expr("""(n * p - element_at(s, cast(i0 + 1 as int))
                         * element_at(s, cast(j0 + 1 as int))) div 1048576""")
            .as("c"))) // read every round
      var v = spark.range(1, dim + 1)
        .select($"id".as("dim"), lit(10000L).as("x"))
      for (_ <- 1 to iters) {
        l.round(v, covB)
        val u = covB.join(v, covB("j") === v("dim"))
          .groupBy($"i").agg(sum($"c" * $"x").as("u"))
        v = graft.ops.Iterate.loopBarrier(
          u.crossJoin(broadcast(u.agg(max(abs($"u")).as("m"))))
            .select($"i".as("dim"),
              when($"m" === 0L, lit(0L))
                .otherwise(expr("(u * 10000) div m")).as("x")))
      }
      (covB, v)
    }
  }

  /** Anisotropy readout — the share of total variance the TOP component
    * captures, as `var_share_bp = (10⁴·λ₁) div trace` with
    * `λ₁ = (vᵀCv) div (vᵀv)` the integer Rayleigh quotient of the
    * converged iterate over the prescaled co-moment matrix: near 10⁴/d
    * the space is isotropic; near 10⁴ it has collapsed to one direction
    * (the classic representation-collapse symptom). Division order is
    * deliberate: λ first, then the bp scale — `10⁴·vᵀCv` would overflow
    * a long while each staged quotient fits. */
  def anisotropy(embeddings: DataFrame, dim: Int = 64,
      iters: Int = 3): DataFrame = {
    val (cov, v) = powerIterate(embeddings, dim, iters)
    val va = v.select($"dim".as("_i"), $"x".as("_xi"))
    val vb = v.select($"dim".as("_j"), $"x".as("_xj"))
    val quad = cov.join(va, cov("i") === $"_i").join(vb, cov("j") === $"_j")
      .agg(sum($"c" * $"_xi" * $"_xj").as("_num"))
    val den = v.agg(sum($"x" * $"x").as("_den"))
    val trace = cov.where($"i" === $"j").agg(sum($"c").as("_tr"))
    quad.crossJoin(broadcast(den)).crossJoin(broadcast(trace))
      .select(expr("_num div _den").as("lambda1_pre"), $"_tr".as("trace_pre"),
        when($"_tr" === 0L, lit(null).cast("long"))
          .otherwise(expr("(10000 * (_num div _den)) div _tr"))
          .as("var_share_bp"))
  }

  /** Per-cluster quality report — exact-integer cohesion / separation
    * over a labeled embedding table (labels = clusters: k-means cells,
    * SemDeDup communities, or supervised classes): per label the size,
    * the mean squared distance to the cluster's QUANTIZED centroid
    * (cohesion), the nearest other centroid with its squared distance
    * (separation), and the Davies–Bouldin-style ratio
    * (cohesion_a + cohesion_nn) / separation in basis points — the
    * "are my clusters real" gate after any clustering step.
    *
    * Determinism contract: components quantize to q3 integers SHIFTED
    * POSITIVE (+1000, cancels in every difference) so all sums are
    * order-independent longs and every division is positive integer
    * division — no float accumulation anywhere, the centroidPrune
    * pattern. The centroid itself is the QUANTIZED mean (componentwise
    * `s div n`), a defined, engine-portable statistic.
    *
    * Scale shape: one label-keyed aggregate for centroids (map-side
    * combined; |labels| rows), centroids BROADCAST back for the
    * per-vector distances (the big table never shuffles twice), and an
    * all-pairs join of the tiny centroid table for separation — at any
    * corpus size the only full-data costs are one scan + one hash
    * aggregate. */
  def clusterQuality(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val q = embeddings.where(dot($"embedding", $"embedding") > 0)
      .select($"vec_id", $"label",
        transform($"embedding",
          v => (floor(v * 1000) + 1000).cast("long")).as("_v"))
    val cent = q.groupBy($"label")
      .agg(count(lit(1)).as("n"),
        array((0 until dim).map(i => sum(element_at($"_v", i + 1))): _*).as("_s"))
      .select($"label", $"n", expr("transform(_s, x -> x div n)").as("_c"))
    val msd = q.join(broadcast(cent), Seq("label"))
      .select($"label", $"n",
        aggregate(zip_with($"_v", $"_c", (a, b) => (a - b) * (a - b)),
          lit(0L), _ + _).as("_d2"))
      .groupBy($"label")
      .agg(max($"n").as("n"), sum($"_d2").as("_sd2"))
      .select($"label", $"n", expr("_sd2 div n").as("msd_q6"))
    val other = cent.select($"label".as("_lb"), $"_c".as("_cb"))
    val nn = cent.join(other, $"label" =!= $"_lb")
      .select($"label",
        struct(
          aggregate(zip_with($"_c", $"_cb", (x, y) => (x - y) * (x - y)),
            lit(0L), _ + _).as("d2"),
          $"_lb".as("lb")).as("_p"))
      .groupBy($"label").agg(min($"_p").as("_m"))
      .select($"label", $"_m.lb".as("nn_label"), $"_m.d2".as("nn_d2_q6"))
    val nnMsd = msd.select($"label".as("nn_label"), $"msd_q6".as("_nn_msd"))
    msd.join(nn, Seq("label"))
      .join(nnMsd, Seq("nn_label"))
      .select($"label", $"n", $"msd_q6", $"nn_label", $"nn_d2_q6",
        when($"nn_d2_q6" === 0L, lit(null).cast("long"))
          .otherwise(expr("(10000 * (msd_q6 + _nn_msd)) div nn_d2_q6"))
          .as("db_bp"))
  }

  /** Mutual-kNN graph from a scored candidate pair list — the standard
    * pre-clustering graph (hubness-resistant: an edge survives only if
    * EACH endpoint ranks the other in its own top-k, so a hub that is
    * everyone's neighbor but reciprocates none keeps no edges). Input is
    * the repo's canonical scored-pair shape — (id_a, id_b, cos_q4) with
    * id_a < id_b, one row per unordered pair — produced by any candidate
    * generator: exact within-block ([[cosineNearDup]]) for the gated
    * query, [[cosineNearDupLsh]] buckets at 100-TB scale (the graph
    * operator itself is generator-agnostic).
    *
    * Scale shape: one symmetrization (narrow) + ONE node-keyed
    * window for per-node ranks + ONE canonical-pair aggregate whose
    * `count = 2` test IS the mutuality check — two shuffle families
    * total, no self-join of the ranked edge list (the oracle verifies
    * via that independent join formulation instead). Ranks are
    * deterministic: ties broken by neighbor id. */
  def mutualKnn(scoredPairs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val sym = symmetrize(scoredPairs, "src", "dst", $"cos_q4")
    val w = Window.partitionBy($"src").orderBy($"cos_q4".desc, $"dst")
    val knn = sym.withColumn("rn", row_number().over(w)).where($"rn" <= k)
    knn.groupBy(least($"src", $"dst").as("id_a"),
        greatest($"src", $"dst").as("id_b"))
      .agg(count(lit(1)).as("_n"), max($"cos_q4").as("cos_q4"),
        // cast to long: Spark row_number is INT where DuckDB's is BIGINT
        min(when($"src" < $"dst", $"rn")).cast("long").as("rank_ab"),
        min(when($"src" > $"dst", $"rn")).cast("long").as("rank_ba"))
      .where($"_n" === 2)
      .select($"id_a", $"id_b", $"cos_q4", $"rank_ab", $"rank_ba")
  }

  /** Mode-free 4-decimal quantization: floor(x·10⁴) is bit-deterministic
    * across engines given identical doubles, unlike round() whose
    * half-way behavior differs (Spark exact-decimal HALF_UP vs DuckDB
    * scaled nearbyint) — a real divergence observed at sf0.1. */
  def floorQ4(c: Column): Column = floor(c * 10000).cast("long")

  /** Deterministic pseudo-random hyperplanes (seeded), dim × nPlanes. */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit LSH bucket id from `nPlanes` hyperplane projections. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val proj = dot(vec, array(p.map(lit): _*))
      when(proj > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed ANN: probes only its own bucket (single-probe). With
    * b sign bits the corpus splits into ≤2^b buckets; the join is
    * bucket-equi (shuffle on bucket id), never all-pairs. Recall vs
    * brute force is traded via b — tested in SimilaritySpec. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, nPlanes: Int = 8,
      dim: Int = 64, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(dim, nPlanes)
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where($"q_id" =!= $"n_id")
      .select($"q_id", $"n_id", cosine($"q_vec", $"n_vec").as("cos"))
    val w = Window.partitionBy($"q_id").orderBy(desc("cos"), $"n_id")
    scored.withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"q_id", $"n_id", $"rank", floorQ4($"cos").as("cos_q4"))
  }

  /** Multi-probe LSH top-k (Lv et al. VLDB'07): each query probes its
    * OWN bucket plus every bucket at Hamming distance 1 (one flipped
    * sign bit) — nPlanes+1 probes. Recovers most of the recall that
    * extra hash TABLES would buy without replicating the corpus index:
    * at 100 TB the index is one narrow projection built once, and only
    * the tiny query side fans out ×(nPlanes+1). A corpus vector lives
    * in exactly one bucket and a query's probe buckets are distinct, so
    * candidates need no dedup. Same output shape as [[lshTopK]]; recall
    * uplift vs single-probe is pinned in SimilaritySpec and measured by
    * [[recallAtK]] in the gated query. */
  def lshTopKMultiProbe(queries: DataFrame, corpus: DataFrame, k: Int,
      nPlanes: Int = 8, dim: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(dim, nPlanes)
    val flips = array((lit(0L) +: (0 until nPlanes).map(i => lit(1L << i))): _*)
    val q = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        lshBucket(col(vecCol), planes).as("_b0"), explode(flips).as("_f"))
      .select($"q_id", $"q_vec", $"_b0".bitwiseXOR($"_f").as("bucket"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where($"q_id" =!= $"n_id")
      .select($"q_id", $"n_id", cosine($"q_vec", $"n_vec").as("cos"))
    val w = Window.partitionBy($"q_id").orderBy(desc("cos"), $"n_id")
    scored.withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"q_id", $"n_id", $"rank", floorQ4($"cos").as("cos_q4"))
  }

  /** IVF-style ANN (the second scale path next to [[lshTopK]]): corpus
    * vectors are partitioned into `nCells` Voronoi cells around coarse
    * centroids; a query probes only its `nProbe` nearest cells.
    *
    * Scale shape:
    *  - centroids are a bounded tiny set, collected once on the driver
    *    and inlined as literals (exactly what a broadcast would ship) —
    *    so CELL ASSIGNMENT IS A NARROW PROJECTION: the corpus is never
    *    shuffled to build the index, and the assignment codegens via
    *    [[graft.functions.DotProduct]].
    *  - the probe join broadcasts (query × nProbe) rows against the
    *    cell-assigned corpus; only matching cells are scored, and the
    *    only shuffle is the final per-query top-k window over
    *    candidates (≈ nProbe/nCells of the corpus).
    *
    * The coarse quantizer here is deliberately deterministic — the first
    * `nCells` corpus vectors by id, L2-normalized — so the DuckDB oracle
    * reproduces the index bit-for-bit. At 100 TB you would feed real
    * k-means centroids; every plan property above is centroid-agnostic.
    *
    * Assignment ranks cells by cosine ≡ dot with NORMALIZED centroids
    * (the query-side norm is a common positive factor — dropped); ties
    * break to the lowest cell id on both engines. Probing all cells
    * (`nProbe = nCells`) degrades to exact search — asserted in
    * SimilaritySpec. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nCells: Int = 16,
      nProbe: Int = 4, idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    // `centroids` overrides the quantizer (e.g. [[ivfCentroidsKmeans]] on
    // clustered corpora); every plan property below is centroid-agnostic,
    // so the override changes WHICH cells exist, not how the index or
    // probe executes.
    val cents = centroids.getOrElse(ivfCentroids(corpus, nCells, idCol, vecCol))
    val sess = queries.sparkSession
    val centDf = {
      import org.apache.spark.sql.{Row => SqlRow}
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("cell", IntegerType, nullable = false),
        StructField("c_vec", ArrayType(DoubleType, containsNull = false), nullable = false)))
      val rows: java.util.List[SqlRow] = java.util.Arrays.asList(
        cents.zipWithIndex.map { case (c, i) => SqlRow(i, c.toSeq) }: _*)
      sess.createDataFrame(rows, schema)
    }

    // query side: rank all cells per query relationally (tiny: |q|·nCells)
    val qScored = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .crossJoin(broadcast(centDf))
      .select($"q_id", $"q_vec", $"cell", dot($"q_vec", $"c_vec").as("s"))
    val wq = Window.partitionBy($"q_id").orderBy(desc("s"), $"cell")
    val probes = qScored.withColumn("pr", row_number().over(wq))
      .where($"pr" <= nProbe).select($"q_id", $"q_vec", $"cell")

    // corpus side: narrow argmax over inlined centroids — zero shuffle
    val assigned = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      ivfCell(col(vecCol), cents).as("cell"))

    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .where($"q_id" =!= $"n_id")
      .select($"q_id", $"n_id", cosine($"q_vec", $"n_vec").as("cos"))
    val w = Window.partitionBy($"q_id").orderBy(desc("cos"), $"n_id")
    scored.withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"q_id", $"n_id", $"rank", floorQ4($"cos").as("cos_q4"))
  }

  /** Deterministic coarse centroids: first `nCells` corpus vectors by id,
    * L2-normalized in driver doubles (float→double is exact; same sum
    * order as the oracle's `list_dot_product`, so the constants agree
    * bit-for-bit across engines). */
  def ivfCentroids(corpus: DataFrame, nCells: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] =
    // an all-zero vector can't be normalized (0/0 = NaN centroid would
    // poison every cell score), so skip them when seeding; the IVF
    // oracle SQL applies the same norm>0 guard to stay in lockstep
    corpus.where(aggregate(col(vecCol), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double")) > 0)
      .orderBy(col(idCol)).limit(nCells).select(col(vecCol)).collect()
      .map { r =>
        val v = r.getSeq[Any](0).map {
          case f: Float => f.toDouble
          case d: Double => d
          case n: Number => n.doubleValue()
        }.toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / n)
      }

  /** K-means coarse quantizer for [[ivfTopK]] — the centroid-QUALITY path
    * next to the oracle-reproducible seeded quantizer in [[ivfCentroids]]
    * (which `ext_sim_ivf_ann` keeps so the DuckDB oracle can rebuild the
    * index relationally).
    *
    * Two deterministic seeding strategies:
    *
    *  - `"parallel"` (default, the 100-TB path): k-means‖-style
    *    oversampling (Bahmani et al., VLDB'12). Each of `rounds` passes
    *    samples points with probability ∝ oversample·cost/Σcost against
    *    the candidate set so far (cost = 1 − max cosine), using a
    *    splitmix hash of (id, round) as the uniform draw — so the sample
    *    is a pure function of the data, no RNG state. One job per round
    *    (a mapPartitions that both samples and partial-sums the next
    *    round's Σcost), one candidate weighting job, then a driver-local
    *    weighted farthest-first reduction of the ≤ rounds·oversample+1
    *    candidates down to k. TOTAL: `rounds + 3` jobs for ANY nCells
    *    (with the counting barrier and the lowest-id lookup below) —
    *    replacing the previous per-seed driver loop whose O(nCells)
    *    full scans were the one remaining scale-killer shape (4096
    *    cells = 4096 scans).
    *  - `"farthest"`: exact Gonzalez k-center — repeatedly add the
    *    corpus vector with the smallest maximum cosine against the
    *    chosen set (ties to the lowest id). One scan PER SEED, so only
    *    for small k — but exactly reproducible relationally, which is
    *    why `ext_sim_ivf_kmeans`'s DuckDB oracle pins this variant.
    *
    * Then `iters` Lloyd rounds refine. Assignment reuses [[ivfCell]] —
    * the same inlined-centroid narrow argmax the probe path uses, zero
    * shuffle — and the update is ONE hash aggregate per round: nCells
    * groups × (dim sums + a count), fully map-side combined, so a round
    * shuffles O(nCells·dim) doubles no matter the corpus size. That is
    * the 100-TB shape: per-executor partial sums, a tiny exchange, a
    * driver-side divide. Spherical k-means — means are L2-normalized so
    * argmax-dot stays ≡ cosine ranking; a cell that comes back empty (or
    * with a zero mean) keeps its previous centroid.
    *
    * The non-zero corpus vectors are one [[graft.ops.Iterate]] loop
    * barrier — its job also counts them — and every seeding and Lloyd
    * round reads it, named `ivfCentroidsKmeans.round N`. The centroids
    * are built on the driver, so the barrier is freed on return. A
    * corpus with no non-zero vector seeds no cell: the result is empty.
    *
    * Both seedings are exactly deterministic; the Lloyd means sum
    * doubles in partition order, so refined centroids are deterministic
    * only up to floating-point ordering. The contract here is recall,
    * not bit identity — hash-checked queries stay on [[ivfCentroids]] /
    * `seeding = "farthest"` at `iters = 0`. */
  def ivfCentroidsKmeans(corpus: DataFrame, nCells: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seeding: String = "parallel", rounds: Int = 3,
      oversample: Int = 0): Array[Array[Double]] = {
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(seeding == "parallel" || seeding == "farthest",
      s"seeding must be 'parallel' or 'farthest', got '$seeding'")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val seedRounds = if (seeding == "parallel") rounds else nCells - 1
    graft.ops.Iterate.loop("ivfCentroidsKmeans", seedRounds + iters) { l =>
      l.stage("corpus")
      val (vecs, n) = graft.ops.Iterate.loopBarrierCount(corpus
        .where(dot(col(vecCol), col(vecCol)) > 0)
        .select(col(idCol).cast("long").as("_id"), col(vecCol).as("_v")))
      // no non-zero vector: no cell can be seeded, so the index is empty
      val k = math.min(nCells.toLong, n).toInt
      if (k == 0) Array.empty[Array[Double]]
      else {
        val first = vecs.orderBy($"_id").limit(1).collect()(0)
        var cents =
          if (seeding == "parallel")
            parallelSeeds(l, vecs, n, k, first, rounds,
              if (oversample > 0) oversample else math.max(2 * nCells, 8))
          else farthestFirstSeeds(l, vecs, k, first)
        // Lloyd refinement: narrow assignment, one O(nCells·dim) aggregate
        val dim = cents.head.length
        for (_ <- 0 until iters) {
          l.round(vecs)
          val assigned = vecs.select(ivfCell($"_v", cents.toArray).as("_cell"), $"_v")
          val sums = (0 until dim).map(i =>
            sum(element_at($"_v", i + 1).cast("double")).as(s"_s$i"))
          val rows = assigned.groupBy($"_cell")
            .agg(count(lit(1L)).as("_n"), sums: _*)
            .collect()
          val byCell = rows.map(r => r.getInt(0) -> r).toMap
          cents = cents.indices.map { c =>
            byCell.get(c).map { r =>
              val members = r.getLong(1).toDouble
              val mean = Array.tabulate(dim)(i => r.getDouble(2 + i) / members)
              if (mean.exists(_ != 0.0)) normalized(mean) else cents(c)
            }.getOrElse(cents(c))
          }.toVector
        }
        cents.toArray
      }
    }
  }

  private def asDoubles(r: org.apache.spark.sql.Row, field: String = "_v"): Array[Double] =
    r.getSeq[Any](r.fieldIndex(field)).map {
      case f: Float => f.toDouble
      case d: Double => d
      case n: Number => n.doubleValue()
    }.toArray

  private def normalized(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** Deterministic uniform draw in [0,1) from (id, round): splitmix64
    * finalizer over a linear mix. A hash IS the sample — reruns and
    * retried tasks see identical decisions, unlike `rand()`. */
  private def unitHash(id: Long, round: Int): Double = {
    var z = id * 0x9E3779B97F4A7C15L + round.toLong * 0xC2B2AE3D27D4EB4FL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    (z >>> 11).toDouble / (1L << 53).toDouble
  }

  /** Gonzalez farthest-first from the lowest-id vector `first`: one
    * scan per seed — small-k / oracle path. */
  private def farthestFirstSeeds(l: graft.ops.Iterate.Loop, vecs: DataFrame,
      k: Int, first: org.apache.spark.sql.Row): Vector[Array[Double]] = {
    var cents = Vector(normalized(asDoubles(first)))
    while (cents.size < k) {
      l.round(vecs)
      val maxCos = array_max(array(cents.map(c =>
        dot($"_v", array(c.map(lit): _*)) / norm($"_v")): _*))
      val far = vecs.select($"_id", $"_v", maxCos.as("_mx"))
        .orderBy($"_mx".asc, $"_id".asc).limit(1).collect()(0)
      cents = cents :+ normalized(asDoubles(far))
    }
    cents
  }

  /** k-means‖-style oversampled seeding from the lowest-id vector
    * `first`: `rounds + 1` scans of `vecs`, independent of k. Candidate maths run per-partition in the closure
    * (not as inlined-literal Columns) deliberately: the candidate set is
    * a few hundred × dim doubles, and inlining that as expression-tree
    * literals is the plan-string blowup [[ivfCell]]'s doc warns about. */
  private def parallelSeeds(l: graft.ops.Iterate.Loop, vecs: DataFrame,
      n: Long, k: Int, first: org.apache.spark.sql.Row, rounds: Int,
      oversample: Int): Vector[Array[Double]] = {
    def maxCos(v: Array[Double], cands: Seq[Array[Double]]): Double = {
      val nv = math.sqrt(v.map(x => x * x).sum)
      var best = -1.0
      cands.foreach { c =>
        var s = 0.0; var i = 0
        while (i < v.length && i < c.length) { s += v(i) * c(i); i += 1 }
        val cos = s / nv // candidates are L2-normalized
        if (cos > best) best = cos
      }
      best
    }
    var candIds = Vector(first.getLong(0))
    var cands = Vector(normalized(asDoubles(first)))
    // per round: sample with p = min(1, oversample·cost/Σcost_prev) AND
    // partial-sum this round's Σcost in the same pass. Round 1 has no
    // Σcost yet; 2n is a sound upper bound (spherical cost ≤ 2/point) —
    // it only makes the first round's sample conservative.
    var phi = 2.0 * n
    for (r <- 1 to rounds) {
      l.round(vecs)
      val candsNow = cands // stable closure capture
      val phiNow = phi
      val sampled = vecs.toDF().mapPartitions { it =>
        var partPhi = 0.0
        val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
        it.foreach { row =>
          val id = row.getLong(0)
          val v = asDoubles(row)
          val cost = math.max(0.0, 1.0 - maxCos(v, candsNow))
          partPhi += cost
          val p = math.min(1.0, oversample * cost / phiNow)
          if (unitHash(id, r) < p) hits += ((id, v))
        }
        Iterator.single((partPhi, hits.toArray))
      }(org.apache.spark.sql.Encoders.kryo[(Double, Array[(Long, Array[Double])])])
        .collect()
      phi = math.max(sampled.map(_._1).sum, 1e-12)
      val fresh = sampled.flatMap(_._2).sortBy(_._1)
        .filterNot(h => candIds.contains(h._1))
      candIds ++= fresh.map(_._1)
      cands ++= fresh.map(h => normalized(h._2))
    }
    // weighting scan: how many corpus points each candidate owns
    l.stage("weights")
    val candsFinal = cands
    val weights = vecs.toDF().mapPartitions { it =>
      val w = new Array[Long](candsFinal.size)
      it.foreach { row =>
        val v = asDoubles(row)
        var best = -2.0; var bi = 0; var i = 0
        candsFinal.foreach { c =>
          var s = 0.0; var j = 0
          while (j < v.length && j < c.length) { s += v(j) * c(j); j += 1 }
          // candidates are normalized and the query norm is a common
          // positive factor across candidates — argmax-dot ≡ argmax-cos
          if (s > best) { best = s; bi = i }
          i += 1
        }
        w(bi) += 1
      }
      Iterator.single(w)
    }(org.apache.spark.sql.Encoders.kryo[Array[Long]]).collect()
      .reduce { (a, b) => a.indices.foreach(i => a(i) += b(i)); a }
    // driver-local weighted farthest-first over ≤ rounds·oversample+1
    // candidates: first the heaviest candidate (tie → lowest index ==
    // lowest id), then argmax of weight·(1 − max cos to chosen)
    val heaviest = weights.indices.maxBy(i => (weights(i), -i.toDouble))
    var chosen = Vector(heaviest)
    while (chosen.size < k && chosen.size < cands.size) {
      val pick = cands.indices.filterNot(chosen.contains)
        .maxBy { i =>
          val d = 1.0 - maxCos(cands(i), chosen.map(cands))
          (weights(i) * d, -i.toDouble)
        }
      chosen :+= pick
    }
    var seeds = chosen.map(cands)
    if (seeds.size < k) {
      // degenerate tiny-corpus fallback: fill from the lowest-id vectors
      val fill = vecs.orderBy($"_id").limit(k).collect()
        .map(r => normalized(asDoubles(r)))
      var i = 0
      while (seeds.size < k && i < fill.length) {
        if (!seeds.exists(_.sameElements(fill(i)))) seeds :+= fill(i)
        i += 1
      }
    }
    seeds
  }

  /** Nearest-cell id as a pure narrow expression: argmax of the codegen
    * dot products against the inlined normalized centroids; first index
    * wins ties (array_position takes the FIRST occurrence == ORDER BY
    * score DESC, cell ASC elsewhere).
    *
    * Shape matters here: the scores ARRAY is built once and referenced
    * twice (CSE shares the evaluation). The obvious alternative — a
    * when-chain where every branch repeats `greatest(all scores)` —
    * inlines the nCells·dim centroid literals ~nCells× over, and the
    * resulting multi-hundred-KB expression tree made AQE's per-stage
    * plan-string rendering the BOTTLENECK of the whole benchmark (the
    * driver sat at 100% CPU inside explainString). Literal-heavy
    * expressions must stay linear in the literal count. */
  def ivfCell(vec: Column, cents: Array[Array[Double]]): Column =
    if (cents.isEmpty) lit(null).cast("int") // an empty index has no cell
    else {
      val scores = array(cents.map(c => dot(vec, array(c.map(lit): _*))): _*)
      (array_position(scores, array_max(scores)) - 1).cast("int")
    }

  /** Embedding-cosine near-dup pairs (blocked by label to bound the
    * candidate set; at scale the block key would be an LSH bucket). */
  def cosineNearDup(embeddings: DataFrame, threshold: Double): DataFrame = {
    // zero-norm vectors are excluded up front: cosine against them is
    // 0/0 = NaN, which Spark floors to a silent drop while DuckDB's
    // CAST(floor(NaN)) errors — near-dup is simply undefined for them,
    // and the oracle SQL applies the identical norm > 0 guard.
    // The norm is computed once per vector, not once per pair:
    // dot(a,b) / (n_a·n_b) is exactly the double `cosine` produces.
    val e = embeddings.select($"vec_id", $"label", $"embedding",
        norm($"embedding").as("n"))
      .where($"n" > 0)
    // the pair work runs in the stream side's tasks, so that side spreads
    val a = spreadToSlots(e, "vec_id").toDF("id_a", "label", "vec_a", "n_a")
    val b = e.toDF("id_b", "label", "vec_b", "n_b")
    a.join(b, Seq("label"))
      .where($"id_a" < $"id_b")
      .select($"id_a", $"id_b", $"label",
        floorQ4(dot($"vec_a", $"vec_b") / ($"n_a" * $"n_b")).as("cos_q4"))
      .where($"cos_q4" >= math.floor(threshold * 10000).toLong)
  }

  /** Both directions of every (id_a, id_b) pair as (`src`, `dst`,
    * carry…) rows, in ONE pass over `pairs`: the graph operators take
    * symmetric edge lists, and a two-branch union would evaluate
    * `pairs` twice when it is not persisted. */
  def symmetrize(pairs: DataFrame, src: String, dst: String,
      carry: Column*): DataFrame = {
    def dir(from: String, to: String) =
      struct(($"$from".as(src) +: $"$to".as(dst) +: carry): _*)
    pairs.select(explode(array(dir("id_a", "id_b"), dir("id_b", "id_a"))).as("_e"))
      .select($"_e.*")
  }

  /** Reciprocal-rank fusion of several retriever rankings — the
    * standard hybrid-retrieval combiner (Cormack et al. SIGIR'09):
    * score(d) = Σ_r 1∕(κ + rank_r(d)), here as the EXACT integer
    * ⌊10⁸∕(κ + rank)⌋ summed per (query, doc) so the fused order
    * hash-gates cross-engine. Documents missing from a ranking simply
    * contribute nothing (the defining robustness of RRF).
    *
    * Scale shape: inputs are k·|queries|-row frames; one union +
    * (q_id, n_id) aggregate, then a per-query rank window. Tiny next
    * to any retriever that produced them. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, kappa: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k >= 1 && kappa >= 0, s"bad k=$k / kappa=$kappa")
    import org.apache.spark.sql.expressions.Window
    val scored = rankings.map(
      _.select($"q_id", $"n_id",
        expr(s"100000000 div ($kappa + rank)").as("_s")))
      .reduce(_ unionByName _)
    val w = Window.partitionBy($"q_id").orderBy($"rrf_score".desc, $"n_id")
    scored.groupBy($"q_id", $"n_id").agg(sum($"_s").as("rrf_score"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
  }

  /** ANN recall evaluation — recall@k of an approximate top-k result
    * against the exact (brute-force) top-k, per query, as exact basis
    * points (⌊10⁴·|approx ∩ exact|∕k⌋). The acceptance gate run before
    * trusting a bucketed index (LSH/IVF) at scale: both inputs are
    * `(q_id, n_id, …)` frames as produced by [[bruteForceTopK]] /
    * [[lshTopK]] / [[ivfTopK]].
    *
    * Scale shape: one equi-join on (q_id, n_id) — both frames are
    * already k·|queries| rows, tiny next to the corpus — then a
    * query-keyed count. Queries the approximate index missed entirely
    * still appear (recall 0) via the left join from the exact side. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    exact.select($"q_id", $"n_id")
      .join(approx.select($"q_id", $"n_id", lit(1L).as("_hit")),
        Seq("q_id", "n_id"), "left_outer")
      .groupBy($"q_id")
      .agg(sum(coalesce($"_hit", lit(0L))).as("hits"))
      .select($"q_id", $"hits",
        expr(s"(10000 * hits) div $k").as("recall_bp"))
  }

  /** Binary-relevance nDCG@k (Järvelin & Kekäläinen 2002) of a ranked
    * list — the position-weighted member of the eval trio next to
    * [[recallAtK]] (set overlap) and [[reciprocalRank]] (first hit):
    * DCG = Σ_{r : hit} w_r with caller-supplied INTEGER weights
    * (`weights(r−1)` ≈ ⌊10⁸∕log₂(r+1)⌋ — precomputed literals, so the
    * irrational log never evaluates inside either engine and the same
    * constants can be inlined into an oracle); ideal = the prefix sum
    * of the first min(k, n_rel) weights; ndcg_bp = ⌊10⁴·DCG∕ideal⌋.
    *
    * `ranked` = (q_id, n_id, rank ∈ 1..k); `rel` = the (q_id, n_id)
    * relevance universe (n_rel counts ALL relevant candidates, so a
    * query with fewer than k relevant docs is judged against the ideal
    * it could actually achieve). Scale shape: one equi join of the
    * k·|queries| ranked frame against the relevance pairs + one
    * group-by — query-cardinality frames throughout. */
  def ndcgAtK(ranked: DataFrame, rel: DataFrame, k: Int,
      weights: Seq[Long]): DataFrame = {
    require(k >= 1 && weights.length >= k,
      s"need k >= 1 and a weight per rank, got k=$k, ${weights.length} weights")
    val wArr = array(weights.take(k).map(lit): _*)
    val prefix = weights.take(k).scanLeft(0L)(_ + _) // prefix(i) = Σ first i
    val prefArr = array(prefix.map(lit): _*)
    val relCnt = rel.groupBy($"q_id").agg(count(lit(1)).as("n_rel"))
    ranked
      .join(rel.select($"q_id", $"n_id", lit(1L).as("_hit")),
        Seq("q_id", "n_id"), "left_outer")
      .withColumn("_w", element_at(wArr, $"rank".cast("int")))
      .groupBy($"q_id")
      .agg(sum(when($"_hit".isNotNull, $"_w").otherwise(0L)).as("dcg_q8"))
      .join(relCnt, Seq("q_id"), "left_outer")
      .withColumn("n_rel", coalesce($"n_rel", lit(0L)))
      .withColumn("_ideal",
        element_at(prefArr, (least($"n_rel", lit(k.toLong)) + 1).cast("int")))
      .select($"q_id", $"n_rel", $"dcg_q8",
        when($"_ideal" > 0, expr("(10000 * dcg_q8) div _ideal"))
          .otherwise(0L).as("ndcg_bp"))
  }

  /** Reciprocal-rank eval of an approximate retriever: where did the
    * TRUE nearest neighbor (exact top-1) land in the approximate list?
    * rr_q8 = ⌊10⁸∕rank⌋ exact integer, 0 when missed — the
    * position-sensitive companion to [[recallAtK]] (recall can't tell
    * rank 1 from rank k). Averaging rr_q8 over queries gives MRR·10⁸.
    * One tiny equi-join of two k·|queries|-row frames. */
  def reciprocalRank(approx: DataFrame, exactTop1: DataFrame): DataFrame =
    exactTop1.select($"q_id", $"n_id")
      .join(approx.select($"q_id", $"n_id", $"rank"), Seq("q_id", "n_id"), "left_outer")
      .select($"q_id", $"n_id".as("true_nn"),
        coalesce($"rank", lit(0)).cast("long").as("rank"),
        coalesce(expr("100000000 div rank"), lit(0L)).as("rr_q8"))

  /** Embedding outlier pruning — flag the vectors farthest from their
    * LABEL CENTROID (the "prune far-from-class-center examples"
    * curation step, the pruning half of SemDeDup-style pipelines), in
    * EXACT integer arithmetic: with q3-quantized components v and the
    * label's component SUM s over n rows, n²·d²(v, s∕n) expands to
    * n²·Σv² − 2n·(v·s) + Σs² — every term an exact long, so ranking
    * and the prune cut are cross-engine reproducible (a float mean
    * centroid would not hash). `pruneBp` flags the top fraction per
    * label by that exact distance (ties → larger vec_id pruned first —
    * deterministic).
    *
    * Scale shape: one map-side-combined per-label SUM aggregate
    * (64-component array, label-cardinality rows) broadcast back, a
    * narrow distance projection, and one per-label rank window. Counts
    * must satisfy n²·Σv² < 2⁶³ — quantize coarser at extreme scale
    * (the [[graft.ops.Moments]] contract). */
  def centroidPrune(embeddings: DataFrame, pruneBp: Int = 1000,
      dim: Int = 64): DataFrame = {
    require(pruneBp >= 0 && pruneBp <= 10000,
      s"pruneBp must be in [0, 10000], got $pruneBp")
    import org.apache.spark.sql.expressions.Window
    val q = embeddings
      .where(dot($"embedding", $"embedding") > 0)
      .select($"vec_id", $"label",
        transform($"embedding", v => floor(v * 1000).cast("long")).as("_v"))
    val sums = q.groupBy($"label")
      .agg(count(lit(1)).as("_n"),
        array((0 until dim).map(i =>
          sum(element_at($"_v", i + 1))): _*).as("_s"))
    val d2 = q.join(sums, Seq("label"))
      .select($"vec_id", $"label", $"_n",
        (aggregate(zip_with($"_v", $"_v", _ * _), lit(0L), _ + _) * $"_n" * $"_n" -
          lit(2L) * $"_n" * aggregate(zip_with($"_v", $"_s", _ * _), lit(0L), _ + _) +
          aggregate(zip_with($"_s", $"_s", _ * _), lit(0L), _ + _)).as("d2n2"))
    val w = Window.partitionBy($"label").orderBy($"d2n2".desc, $"vec_id".desc)
    d2.withColumn("_rk", row_number().over(w))
      .withColumn("prune", lit(10000L) * $"_rk" <= lit(pruneBp.toLong) * $"_n")
      .select($"vec_id", $"label", $"d2n2", $"prune")
  }

  /** Contrastive (anchor, positive, negative) TRIPLET generation — the
    * training-pair miner for embedding-model fine-tuning: positives
    * are [[cosineNearDup]] pairs (cosine ≥ threshold inside the label
    * block, anchor = the smaller id), and each anchor draws ONE
    * deterministic negative of a DIFFERENT label from its md5 hash
    * bucket, chosen by arg-min over a per-(anchor, candidate) md5 salt
    * — a reproducible stand-in for "random negative" that any engine
    * replays bit-for-bit (the [[Sampling.hashBucket]] discipline).
    *
    * Scale shape: negatives never do all-pairs work — candidates are
    * one equi self-join on the `nBuckets`-ary hash bucket (≈ n/B rows
    * per probe) reduced by an associative min aggregate; positives
    * inherit cosineNearDup's blocking. Anchors whose bucket holds no
    * other-label vector drop out (raise `nBuckets`' inverse — fewer
    * buckets, fuller probes — if that matters). */
  def contrastiveTriplets(embeddings: DataFrame, threshold: Double,
      nBuckets: Int = 16): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val pos = cosineNearDup(embeddings, threshold)
    val nz = embeddings.select($"vec_id", $"label")
      .where(dot($"embedding", $"embedding") > 0)
    def bucket(id: Column): Column =
      pmod(conv(substring(md5(id.cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("long"), lit(nBuckets.toLong))
    val anchors = pos.select($"id_a", $"label").distinct()
    val cand = nz.select($"vec_id".as("neg_id"), $"label".as("_neg_label"),
      bucket($"vec_id").as("_b"))
    val negs = anchors
      .join(cand, bucket($"id_a") === $"_b" && $"_neg_label" =!= $"label")
      .groupBy($"id_a")
      .agg(min_by($"neg_id",
        md5(concat($"id_a".cast("string"), lit("|"),
          $"neg_id".cast("string")).cast("binary"))).as("neg_id"))
    pos.join(negs, Seq("id_a"))
      .select($"id_a".as("anchor_id"), $"id_b".as("pos_id"),
        $"neg_id", $"label", $"cos_q4")
  }

  /** Embedding near-dup, LSH-bucketed (the 100-TB path next to the
    * label-blocked [[cosineNearDup]]): `nTables` independent sign-bit
    * hash tables (seeded hyperplanes, seed 42+t per table); two vectors
    * are candidates if they share a bucket in ANY table, then exact
    * cosine ≥ threshold verifies. The multi-table OR is what makes
    * recall usable — one 4-bit table catches a (1−θ/π)⁴ fraction per
    * pair (≈13 % at the θ≈72° decision boundary, measured exactly), and
    * 8 tables lift that to 1−(1−p)⁸ ≈ 67 %, higher still for closer
    * pairs. No metadata blocking column and no all-pairs work: tables
    * explode to (table, bucket) rows and the self-join is equi on that
    * pair, exactly like MinHash banding for text. Fully DETERMINISTIC —
    * the seeded planes inline into oracle SQL bit-for-bit.
    *
    * `maxBucket` (0 = unlimited) caps (table, bucket) size before the
    * self-join, same guard as [[Dedup.minhashLsh]]: with b sign bits a
    * degenerate direction (zero vectors, one dominant cluster) can pull
    * a constant fraction of the corpus into one bucket, and a bucket of
    * m vectors costs m² candidates. Buckets over the cap are dropped;
    * the default keeps exact semantics for oracle parity. At 100 TB set
    * a cap (or raise nPlanes). */
  def cosineNearDupLsh(embeddings: DataFrame, threshold: Double,
      nPlanes: Int = 4, nTables: Int = 8, dim: Int = 64,
      maxBucket: Int = 0): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // zero-norm exclusion: see cosineNearDup — NaN cosine diverges
    // between engines, and a zero vector lands in bucket 0 of EVERY
    // table, manufacturing candidates it can never verify.
    // Persisted per the Dedup caching contract: this frame feeds the
    // bucket computation AND both verification join sides — without the
    // barrier the scan + 32 hyperplane dot products per row re-run per
    // consumer.
    val e = embeddings.select($"vec_id", $"embedding")
      .where(dot($"embedding", $"embedding") > 0)
      .persistScoped
    val buckets = (0 until nTables).map { t =>
      lshBucket($"embedding", hyperplanes(dim, nPlanes, seed = 42L + t))
        .as(s"b$t")
    }
    val withB = e.select(($"vec_id" +: buckets): _*)
    // persisted: both self-join sides (and the hot-bucket aggregation
    // when capped) read this frame
    val explodedAll = withB.select($"vec_id",
        explode(array((0 until nTables).map(t =>
          struct(lit(t).as("t"), col(s"b$t").as("b"))): _*)).as("_tb"))
      .select($"vec_id", $"_tb.t".as("t"), $"_tb.b".as("b"))
      .persistScoped
    val exploded =
      if (maxBucket <= 0) explodedAll
      else {
        val hot = explodedAll.groupBy($"t", $"b")
          .agg(count(lit(1)).as("_n")).where($"_n" > maxBucket)
        explodedAll.join(broadcast(hot), Seq("t", "b"), "left_anti")
      }
    val cands = exploded.toDF("id_a", "t", "b")
      .join(exploded.toDF("id_b", "t", "b"), Seq("t", "b"))
      .where($"id_a" < $"id_b")
      .select($"id_a", $"id_b").distinct()
    val vecs = e.toDF("sid", "v")
    cands
      .join(vecs.toDF("id_a", "vec_a"), Seq("id_a"))
      .join(vecs.toDF("id_b", "vec_b"), Seq("id_b"))
      .select($"id_a", $"id_b",
        floorQ4(cosine($"vec_a", $"vec_b")).as("cos_q4"))
      .where($"cos_q4" >= math.floor(threshold * 10000).toLong)
  }

  /** Symmetric per-vector int8 quantization — the standard memory-scale
    * path for ANN corpora (4× smaller vectors, SIMD-friendly integer
    * dot products downstream): `code_i = ⌊127·x_i/amax⌋` with
    * `amax = max|x_i|`, `scale = amax/127`, so
    * `|x_i − code_i·scale| < scale` (floor error < one quantization
    * step). Floor (not round-half-*) keeps the codes bit-identical in
    * any engine: float→double widening is exact, `127·amax` fits the
    * mantissa exactly, and IEEE division/floor are deterministic — the
    * oracle reproduces every code. Zero/empty vectors quantize to
    * all-zero codes with scale 0 rather than NaN-poisoning downstream
    * (the same guard class as [[cosineNearDup]]'s zero-norm case).
    *
    * Entirely narrow — quantizing 100 TB of embeddings is a scan; the
    * amax is a stored column so the HOF runs once per row. */
  def quantizeInt8(df: DataFrame, vecCol: String = "embedding"): DataFrame =
    df.withColumn("_amax",
        array_max(transform(col(vecCol), x => abs(x.cast("double")))))
      .withColumn("codes",
        when(col("_amax") > 0.0,
          transform(col(vecCol),
            x => floor(x.cast("double") * 127.0 / col("_amax")).cast("int")))
          .otherwise(transform(col(vecCol), _ => lit(0))))
      .withColumn("scale",
        when(col("_amax") > 0.0, col("_amax") / 127.0).otherwise(lit(0.0)))
      .drop("_amax")

  /** Deterministic ±1 sign matrix for [[randomProject]]: entry (j, i)
    * is +1 iff the first 32 md5 bits of `"j_i"` are even — the same
    * md5-derived pseudo-randomness basis the sampling/LSH layers use,
    * computed ONCE at plan-build time (never per row) and reproducible
    * in any engine with an md5 function. */
  def signMatrix(outDim: Int, inDim: Int): Array[Array[Long]] =
    Array.tabulate(outDim, inDim) { (j, i) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${j}_$i".getBytes("UTF-8"))
      val v = java.lang.Long.parseLong(
        h.take(4).map(b => f"$b%02x").mkString, 16)
      if (v % 2 == 0) 1L else -1L
    }

  /** Johnson–Lindenstrauss random projection with a ±1 sign matrix
    * (Achlioptas 2001): reduce each embedding to `outDim` components
    * `proj_j = Σ_i s(j,i) · ⌊10⁶·x_i⌋` — the standard dimensionality
    * squeeze in front of ANN indexing / clustering when the stored
    * dimension is wide (a 4096-d corpus projected to 64-d keeps
    * pairwise distances within JL bounds at 1/64 the bytes).
    *
    * Components are exact BIGINT sums of q6 fixed-point terms: ±1
    * weights need no float matrix multiply, `float→double` widening and
    * `⌊10⁶·x⌋` are bit-deterministic, and an integer sum is
    * order-independent — so the projection is reproducible across
    * engines AND across partitionings (the ext-layer determinism
    * contract; a float GEMM would be neither).
    *
    * Entirely NARROW: the matrix rides the plan as literals (outDim ×
    * inDim signs, kilobytes), each row's projection is a codegen'd HOF
    * chain, no exchange anywhere — projecting 100 TB is a scan. Input
    * vectors shorter than `inDim` simply use their own length (zip_with
    * pads with nulls which the sum treats as absent). */
  /** Product-quantization codebooks (Jégou et al., PAMI 2011): the
    * vector space splits into `m` contiguous subspaces and each gets a
    * `codebookSize`-entry codebook; a vector's PQ code is the m-tuple
    * of nearest codebook entries, compressing dim floats to m small
    * ints (64-d → 4 bytes here) while keeping distances approximable
    * per subspace (ADC).
    *
    * Codebooks here are SEEDED — the first `codebookSize` corpus
    * vectors by id, split into subvectors — the same oracle-reproducible
    * deterministic-quantizer pattern as [[ivfCentroids]] (a k-means
    * refinement would slot in exactly like [[ivfCentroidsKmeans]] does
    * for IVF, at the price of oracle-exactness). Everything is q6
    * fixed-point: components floor to `⌊10⁶·x⌋` longs, so subspace
    * distances are EXACT integer sums — order-independent and
    * bit-identical in any engine (the randomProject contract), with no
    * normalization step to manufacture NaNs.
    *
    * ONE bounded collect (codebookSize full vectors); returns
    * `cbs(j)(c)` = code c's q6 subvector in subspace j. An empty corpus
    * seeds no entries: every codebook is empty. */
  def pqCodebooks(corpus: DataFrame, m: Int = 4, codebookSize: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64): Array[Array[Array[Long]]] = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    require(codebookSize >= 1, s"codebookSize must be >= 1, got $codebookSize")
    val sub = dim / m
    val seeds = corpus.orderBy(col(idCol)).limit(codebookSize)
      .select(col(vecCol)).collect()
      .map(r => r.getSeq[Any](0).map {
        case f: Float => math.floor(f.toDouble * 1e6).toLong
        case d: Double => math.floor(d * 1e6).toLong
        case n: Number => math.floor(n.doubleValue() * 1e6).toLong
      }.toArray)
    seeds.foreach(v => require(v.length == dim,
      s"vector length ${v.length} != dim $dim"))
    Array.tabulate(m)(j => seeds.map(_.slice(j * sub, (j + 1) * sub)))
  }

  /** Assign PQ codes against [[pqCodebooks]]: per subspace the argmin
    * of the EXACT integer squared distance (ties → the lowest code, the
    * first-occurrence semantics of `array_position(_, array_min(_))`).
    * Returns `(idCol, codes array<int>, dist)` with `dist` the total
    * squared quantization error in q6² units.
    *
    * Scale shape: codebooks ride the plan as literals (m·codebookSize·
    * sub longs — the inlined-centroid pattern), the q6 vector
    * materializes ONCE as an attribute column, and each distance is a
    * flat codegen arithmetic chain over `element_at` reads — fully
    * narrow, zero shuffle, whole-stage codegen end to end. */
  def productQuantize(corpus: DataFrame, m: Int = 4, codebookSize: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    val cbs = pqCodebooks(corpus, m, codebookSize, idCol, vecCol, dim)
    if (cbs.head.isEmpty) // an empty corpus seeds no entry to code against
      corpus.where(lit(false)).select(col(idCol),
        typedLit(Seq.empty[Int]).as("codes"), lit(null).cast("long").as("dist"))
    else {
      val sub = dim / m
      val withQ = corpus.withColumn("_q",
        transform(col(vecCol), x => floor(x.cast("double") * lit(1000000.0)).cast("long")))
      val (codeCols, distCols) = cbs.zipWithIndex.map { case (cb, j) =>
        val dists = array(cb.map { c =>
          c.indices.map { i =>
            val d = element_at(col("_q"), j * sub + i + 1) - lit(c(i))
            d * d
          }.reduce(_ + _)
        }.toIndexedSeq: _*)
        val best = array_min(dists)
        ((array_position(dists, best) - 1).cast("int"), best)
      }.unzip
      withQ.select(col(idCol),
        array(codeCols.toIndexedSeq: _*).as("codes"),
        distCols.reduce(_ + _).as("dist"))
    }
  }

  def randomProject(emb: DataFrame, outDim: Int = 16, inDim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(outDim >= 1, s"outDim must be >= 1, got $outDim")
    val mat = signMatrix(outDim, inDim)
    val projCols = mat.map { row =>
      aggregate(
        zip_with(col(vecCol), typedLit(row.toSeq), (x, s) =>
          coalesce(s * floor(x.cast("double") * lit(1000000.0)).cast("long"),
            lit(0L))),
        lit(0L), (acc, t) => acc + t)
    }
    emb.select(col(idCol),
      array_join(array(projCols.toIndexedSeq: _*), ",").as("proj_csv"))
  }

  /** Leave-one-out kNN label evaluation over LSH buckets: every vector
    * is classified by the majority label of its k nearest cosine
    * neighbors WITHIN its sign-LSH bucket, and per true label the exact
    * accuracy lands in basis points — the label-noise / separability
    * readout ("are the labels learnable from the geometry") that
    * complements [[labelPurity]] (bucket-level agreement) and
    * [[recallAtK]] (retrieval quality). Vectors alone in their bucket
    * have no neighbors and count as misclassified (pred = null) — at
    * scale that is the honest "index too sparse here" signal, not an
    * exclusion.
    *
    * Determinism: neighbors rank by (floor-q4 cosine DESC, id ASC);
    * vote ties break toward the larger label (the [[labelPurity]]
    * struct-max convention). Candidates only form within a bucket —
    * the all-pairs product never exists (the 100-TB shape; brute-force
    * would be the oracle's job, not the engine's). */
  def knnLabelEval(emb: DataFrame, k: Int = 3, nPlanes: Int = 4,
      dim: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val planes = hyperplanes(dim, nPlanes)
    val be = emb
      .where(dot($"embedding", $"embedding") > 0)
      .select($"vec_id", $"label", $"embedding",
        lshBucket($"embedding", planes).as("bucket"))
      .persistScoped // both sides of the bucket self-join read this
    val votes = be.toDF("a_id", "a_label", "a_emb", "bucket")
      .join(be.toDF("b_id", "b_label", "b_emb", "bucket"), Seq("bucket"))
      .where($"a_id" =!= $"b_id")
      .select($"a_id", $"a_label", $"b_id", $"b_label",
        floorQ4(cosine($"a_emb", $"b_emb")).as("cos_q4"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy($"a_id").orderBy($"cos_q4".desc, $"b_id".asc)))
      .where($"_rn" <= k)
      .groupBy($"a_id", $"a_label", $"b_label")
      .agg(count(lit(1)).as("_c"))
    val pred = votes.groupBy($"a_id", $"a_label")
      .agg(max(struct($"_c", $"b_label")).getField("b_label").as("_pred"))
    be.select($"vec_id".as("a_id"), $"label".as("a_label"))
      .join(pred, Seq("a_id", "a_label"), "left")
      .groupBy($"a_label".as("label"))
      .agg(count(lit(1)).as("n"),
        sum(when($"_pred" === $"a_label", 1L).otherwise(0L)).as("n_correct"))
      .withColumn("acc_bp", expr("(10000 * n_correct) div n"))
  }

  /** Per-cluster label purity — given any (cluster, label) assignment
    * (LSH buckets vs semantic labels, k-means cells vs sources, …), each
    * cluster's size, majority label, and exact majority share in basis
    * points. The external-validity companion to the internal
    * [[clusterQuality]] geometry report: purity says whether the
    * partition agrees with ground truth, not whether it is compact.
    *
    * The majority pick is a `max(struct(count, label))` — associative,
    * map-side combinable, ties broken toward the LARGER label string
    * (deterministic; both engines order structs fieldwise). One
    * (cluster, label) aggregate then a cluster-sized rollup — no window
    * over rows, nothing corpus-sized past the first aggregate. */
  def labelPurity(assign: DataFrame, clusterCol: String = "cluster",
      labelCol: String = "label"): DataFrame = {
    val cl = assign
      .select(col(clusterCol).as("cluster"), col(labelCol).as("label"))
      .groupBy($"cluster", $"label").agg(count(lit(1)).as("c"))
    cl.groupBy($"cluster")
      .agg(sum($"c").as("n"), max(struct($"c", $"label")).as("_top"))
      .select($"cluster", $"n",
        $"_top.label".as("majority_label"),
        $"_top.c".as("n_majority"),
        expr("(10000 * _top.c) div n").as("purity_bp"))
  }

  /** Pairwise entity-resolution evaluation (exact basis points): the
    * predicted duplicate-pair set against label ground truth, where
    * truth = all unordered same-label pairs over `labeled`. The
    * standard pair-level P/R/F1 readout for any near-dup generator
    * (LSH, SimHash, sorted-neighborhood, …) against a labeled sample —
    * cluster-level purity ([[clusterPurity]]) hides pair-level
    * over/under-merging; this doesn't.
    *
    * Scale shape: predicted pairs join the label map twice (two hash
    * joins on the id — at scale the label side is the small labeled
    * sample); truth cardinality is one count aggregate per label
    * (Σ n·(n−1)∕2 — the pair set itself is never materialized); the
    * three 1-row frames cross-join at the end. */
  def pairEval(pairs: DataFrame, labeled: DataFrame,
      idCol: String = "vec_id", labelCol: String = "label"): DataFrame = {
    val lab = labeled.select(col(idCol).as("_id"), col(labelCol).as("_l"))
    val scored = pairs
      .join(lab.select($"_id".as("id_a"), $"_l".as("_la")), "id_a")
      .join(lab.select($"_id".as("id_b"), $"_l".as("_lb")), "id_b")
      .agg(count(lit(1)).as("n_pred"),
        coalesce(sum(when($"_la" === $"_lb", 1L)), lit(0L)).as("tp"))
    val truth = lab.groupBy($"_l").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("(n * (n - 1)) div 2")), lit(0L)).as("n_truth"))
    scored.crossJoin(truth)
      .select($"n_pred", $"n_truth", $"tp",
        when($"n_pred" === 0, 0L)
          .otherwise(expr("(10000 * tp) div n_pred")).as("precision_bp"),
        when($"n_truth" === 0, 0L)
          .otherwise(expr("(10000 * tp) div n_truth")).as("recall_bp"))
      .select($"n_pred", $"n_truth", $"tp", $"precision_bp", $"recall_bp",
        when($"precision_bp" + $"recall_bp" === 0, 0L)
          .otherwise(expr("(2 * precision_bp * recall_bp) div (precision_bp + recall_bp)"))
          .as("f1_bp"))
  }
}

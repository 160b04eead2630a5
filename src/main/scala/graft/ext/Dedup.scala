package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Iterate

/** Deduplication operators for LLM training-data pipelines (SURVEY §7.9):
  * exact (content hash), MinHash+LSH near-dup, SimHash, n-gram Jaccard.
  *
  * Scale design:
  *  - exact: one hash-shuffle on the 16-byte digest, never on the text.
  *  - MinHash+LSH: signatures are narrow per-row work; the only shuffle
  *    is the band-bucket self-join (|bands|·|docs| small rows), and
  *    verification runs only on bucket-colliding candidate pairs — the
  *    all-pairs cross join never exists.
  *  - n-gram Jaccard: prefix filtering (All-Pairs/PPJoin) — candidates
  *    share a rare-token prefix element, so buckets stay tiny and the
  *    candidate set is provably complete.
  *
  * All hashing is md5-derived so every step is reproducible in any engine
  * (and DuckDB-oracle-checkable).
  *
  * CACHING CONTRACT: the pair-producing operators ([[lshCandidates]],
  * [[minhashLsh]], [[ngramJaccard]]) persist their internal frames at
  * MEMORY_AND_DISK — those barriers are load-bearing (each blocks a
  * measured 4–40× re-evaluation of the scan+kernel lineage, see the
  * in-method comments) and the returned DataFrame still reads from them
  * lazily, so the operator cannot unpersist before returning. Callers
  * own the cache scope: wrap the call AND its materialization in
  * [[CacheScope.withCacheScope]] (frees exactly the operator's frames,
  * nothing else), or run `spark.catalog.clearCache()` (what Bench and
  * Verify do per query), or the blocks live for the session.
  */
object Dedup {

  /** Content hash for exact dedup. */
  def contentHash(text: Column): Column = md5(text.cast("binary"))

  /** Exact dedup: canonical = min id per content hash.
    *
    * ONE shuffle: `min(id)` over a window partitioned by the digest.
    * The groupBy+re-join formulation this replaces exchanged the hashed
    * frame twice (agg + join) and re-computed md5 on the probe side
    * because the frame wasn't persisted; the window keeps the digest
    * exchange as the entire plan (PlanSpec pins the single Exchange). */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(col(idCol), contentHash(col(textCol)).as("content_hash"))
      .withColumn("canonical_id",
        min(col(idCol)).over(Window.partitionBy($"content_hash")))
      .select(col(idCol), $"canonical_id",
        (col(idCol) =!= $"canonical_id").as("is_dup"))
  }


  /** Word n-gram shingles (n=3): requires >= n tokens.
    *
    * Built with `zip_with` against shifted slices rather than
    * `element_at(toks, i)` inside a lambda: interpreted higher-order
    * functions re-evaluate every non-attribute reference per element, so
    * an element_at over a derived array re-runs the tokenizer for every
    * shingle (measured 15× slower). Arguments of zip_with/slice evaluate
    * once per row. */
  def shingles(toks: Column, n: Int = 3): Column = {
    val shifted = (1 until n).map(k =>
      slice(toks, lit(k + 1), greatest(size(toks) - k, lit(0))))
    val grams = shifted.foldLeft(toks) { (acc, s) =>
      zip_with(acc, s, (a, b) => concat_ws(" ", a, b))
    }
    when(size(toks) >= n, slice(grams, lit(1), size(toks) - (n - 1)))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** MinHash permutation constants: (a, b) pairs for h_i(x) = (a·x+b) mod p.
    * a < 2^20 and x < 2^32 keep a·x+b < 2^52 — no 64-bit overflow in any
    * engine. p is the smallest prime above 2^32. Single source of truth is
    * [[graft.functions.MinhashKernel]] (the codegen kernel); these views
    * feed the declarative formulation and the DuckDB oracle SQL. */
  val MinhashPrime: Long = graft.functions.MinhashKernel.Prime
  val MinhashSalts: Seq[(Long, Long)] =
    graft.functions.MinhashKernel.SaltA.zip(graft.functions.MinhashKernel.SaltB).toSeq

  /** 32-bit base hash per shingle (ONE md5 per shingle; the permutations
    * are arithmetic). */
  def shingleHashes(sh: Column): Column =
    transform(sh, s =>
      conv(substring(md5(s.cast("binary")), 1, 8), 16, 10).cast("long"))

  /** One MinHash signature component over pre-hashed shingles:
    * min over x of (a·x + b) mod p — a random permutation per salt,
    * reproducible in any engine with 64-bit integers. */
  def minhashComponent(hashes: Column, salt: Int): Column = {
    val (a, b) = MinhashSalts(salt - 1)
    array_min(transform(hashes, x => (x * a + b) % MinhashPrime))
  }

  /** LSH band array from a k-component signature column: band value =
    * joined component string (no extra hashing needed for the bucket
    * equi-join). */
  private[graft] def bandArray(sig: Column, k: Int, r: Int): Column = {
    val bands = (0 until k / r).map { b =>
      val parts = (1 to r).map(j => sig.getItem(b * r + j - 1).cast("string"))
      struct(lit(b).as("band_idx"), concat_ws(":", parts: _*).as("band_val"))
    }
    array(bands: _*)
  }

  /** MinHash signatures + LSH bands (k components, r per band), computed
    * by the one-pass codegen kernel ([[graft.functions.ShingleMinhash]]).
    * The multiple `_m.sig[i]` references collapse to ONE kernel call per
    * row under whole-stage codegen's common-subexpression elimination —
    * no persist barrier needed (unlike the interpreted HOF chain this
    * replaced). */
  def withMinhashBands(docs: DataFrame, k: Int = 6, r: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // tokens() is null-safe (null text hashes like the empty doc) — see
    // TextStats.tokens; without that a null would silently drop the doc
    // from pairing
    docs.select(col(idCol),
        graft.functions.ShingleMinhash(
          TextStats.tokens(col(textCol)), 3, k).as("_m"))
      .select(col(idCol), bandArray(col("_m.sig"), k, r).as("bands"))

  /** LSH candidate pairs: docs sharing any band bucket.
    *
    * The exploded frame is persisted because BOTH sides of the bucket
    * self-join read it: per-row CSE (which lets [[withMinhashBands]] skip
    * a barrier) does not reach across join branches, so without this the
    * scan + minhash kernel run twice — once per side. */
  def lshCandidates(withBands: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val exploded = withBands
      .select(col(idCol), explode($"bands").as("b"))
      .select(col(idCol), $"b.band_idx".as("band_idx"), $"b.band_val".as("band_val"))
      .persistScoped
    val a = exploded.toDF("id_a", "band_idx", "band_val")
    val b = exploded.toDF("id_b", "band_idx", "band_val")
    a.join(b, Seq("band_idx", "band_val"))
      .where($"id_a" < $"id_b")
      .select($"id_a", $"id_b").distinct()
  }

  /** Word-set Jaccard similarity of two DISTINCT-element array columns.
    * |a∪b| = |a|+|b|−|a∩b|, so only the intersection is materialized —
    * array_union would allocate the union array per pair just to take
    * its size. Codegen CSE shares the one array_intersect. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** MinHash-LSH near-dup pipeline: candidates via band buckets, verified
    * with true shingle-set Jaccard >= threshold.
    *
    * The prepared frame (shingles + signatures + bands, one md5 pass per
    * salt over a stored shingle array) is persisted before the band
    * self-join — otherwise Spark re-derives the whole signature lineage
    * for BOTH join sides (measured 40× slower at sf0.1).
    *
    * `maxBucket` (0 = unlimited) caps band-bucket size: near-empty or
    * boilerplate documents all collide into the same buckets, and one
    * such bucket of m docs costs m² candidate pairs. Buckets over the cap
    * are DROPPED (the standard guard — a bucket that large carries no
    * near-dup signal, only degenerate content); the default keeps the
    * exact semantics for oracle parity. At 100 TB set a cap. */
  def minhashLsh(docs: DataFrame, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucket: Int = 0): DataFrame = {
    val k = 6; val r = 2
    // ONE pass per row: the codegen kernel computes the distinct shingle
    // set and all k signature components together (one md5 per distinct
    // shingle). This replaced an interpreted HOF chain that needed FOUR
    // persist barriers just to pin evaluation counts (HOFs run outside
    // whole-stage codegen and its subexpression elimination, so every
    // reference to a derived array re-evaluated its lineage — measured
    // 10–40× at sf0.1). The single persist below remains because the
    // band self-join and the verification join both consume this frame;
    // without it the scan+kernel would run three times.
    val base = docs
      .select(col(idCol),
        graft.functions.ShingleMinhash(
          TextStats.tokens(col(textCol)), 3, k).as("_m"))
      .select(col(idCol), col("_m.sset").as("sset"),
        bandArray(col("_m.sig"), k, r).as("bands"))
      .persistScoped

    val explodedAll = base
      .select(col(idCol), explode(col("bands")).as("b"))
      .select(col(idCol), col("b.band_idx").as("band_idx"),
        col("b.band_val").as("band_val"))
    val exploded =
      if (maxBucket <= 0) explodedAll
      else {
        val sizes = explodedAll.groupBy($"band_idx", $"band_val")
          .agg(count(lit(1)).as("_bucket_n"))
          .where($"_bucket_n" <= maxBucket)
        explodedAll.join(sizes, Seq("band_idx", "band_val"), "left_semi")
          // the semi join moves the key columns first; restore the order
          // the positional toDF below depends on
          .select(col(idCol), $"band_idx", $"band_val")
      }
    val cands = exploded.toDF("id_a", "band_idx", "band_val")
      .join(exploded.toDF("id_b", "band_idx", "band_val"), Seq("band_idx", "band_val"))
      .where($"id_a" < $"id_b")
      .select($"id_a", $"id_b").distinct()

    val sets = base.select(col(idCol).as("sid"), col("sset"))
    val out = cands
      .join(sets.toDF("sid_a", "set_a"), $"id_a" === $"sid_a")
      .join(sets.toDF("sid_b", "set_b"), $"id_b" === $"sid_b")
      .select($"id_a", $"id_b",
        Similarity.floorQ4(jaccard($"set_a", $"set_b")).as("jaccard_q4"))
      .where($"jaccard_q4" >= math.floor(threshold * 10000).toLong)
    out
  }

  /** MinHash calibration — how well does the signature ESTIMATE the
    * true Jaccard it stands in for? For every LSH candidate pair the
    * k-component match count is binned (n_match ∈ 1..k; the estimator
    * is n_match∕k ≈ J) and the bin reports the exact true-Jaccard
    * profile: pair count, mean/min/max true Jaccard in q4. This is the
    * eval gate for the (k, r) banding choice — if the mean true Jaccard
    * at the banding's implied threshold is far from n_match∕k, the
    * signature is too short for the corpus (the retrieval-side twin of
    * [[graft.ext.Similarity.recallAtK]]).
    *
    * Scale shape: identical to [[minhashLsh]] (one codegen kernel pass,
    * band-bucket candidates, verify join) plus a k-row rollup — the
    * calibration table costs one aggregate more than the dedup itself.
    * mean_true_q4 is truncating integer division (Σ div n), exact in
    * both engines. */
  def minhashCalibration(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val k = 6; val r = 2
    val base = docs
      .select(col(idCol),
        graft.functions.ShingleMinhash(
          TextStats.tokens(col(textCol)), 3, k).as("_m"))
      .select(col(idCol), col("_m.sset").as("sset"), col("_m.sig").as("sig"),
        bandArray(col("_m.sig"), k, r).as("bands"))
      .persistScoped // band self-join + both verify sides read this
    val exploded = base
      .select(col(idCol), explode(col("bands")).as("b"))
      .select(col(idCol), col("b.band_idx").as("band_idx"),
        col("b.band_val").as("band_val"))
    val cands = exploded.toDF("id_a", "band_idx", "band_val")
      .join(exploded.toDF("id_b", "band_idx", "band_val"),
        Seq("band_idx", "band_val"))
      .where($"id_a" < $"id_b")
      .select($"id_a", $"id_b").distinct()
    val sides = base.select(col(idCol).as("sid"), $"sset", $"sig")
    val nMatch = (0 until k).map(i =>
        when($"sig_a".getItem(i) === $"sig_b".getItem(i), 1L).otherwise(0L))
      .reduce(_ + _)
    cands
      .join(sides.toDF("id_a", "set_a", "sig_a"), Seq("id_a"))
      .join(sides.toDF("id_b", "set_b", "sig_b"), Seq("id_b"))
      .select(nMatch.as("n_match"),
        Similarity.floorQ4(jaccard($"set_a", $"set_b")).as("true_q4"))
      .groupBy($"n_match")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(true_q4) div count(1)").as("mean_true_q4"),
        min($"true_q4").as("min_true_q4"),
        max($"true_q4").as("max_true_q4"))
  }

  /** When the (contracted) edge list is at or under this many rows, the
    * loop finishes with one bounded driver-side union-find instead of
    * more distributed rounds. Geometric contraction means a 100-TB graph
    * reaches this within a few rounds; each avoided tail round is a full
    * cluster barrier (neighbour join + closure + contraction) spent on a
    * few thousand rows. 500k edges = ~8 MB of longs on the driver. */
  val componentsLocalFinishEdges: Long = 500000L

  /** Dedup RESOLUTION: near-dup pairs → connected components → one
    * canonical document per cluster (min id — deterministic).
    *
    * Iterative min-label propagation with GRAPH CONTRACTION (the
    * Kiveris et al. "Connected Components in MapReduce and Beyond",
    * SoCC'14 insight): every vertex starts as its own component; each
    * round every vertex takes the min label over itself and its
    * neighbours, a pointer-doubling closure compresses the discovered
    * pointer chains, and then the edge list is CONTRACTED through the
    * new labels — each edge (u,v) becomes (comp(u), comp(v)), self-loops
    * drop, duplicates dedup. Contraction is what bounds the round count:
    * plain min-propagation moves information one edge-hop per round
    * (measured 16 rounds on the sf0.1 embedding graph — a min label
    * must cross every high-id hub one round at a time), while on the
    * contracted quotient graph each round halves the effective diameter
    * (5 rounds on the same graph, identical output). It is also the
    * 100-TB story: the dominant per-round shuffle (edges ⋈ labels) runs
    * on an edge list that shrinks geometrically as clusters collapse,
    * instead of the full input edge list every round. The convergence
    * probe is a limit-1 count over the just-checkpointed change flags.
    * Once contraction shrinks the edge list to `localFinishEdges` rows
    * (a BOUNDED driver materialization), a single union-find finishes
    * the job — geometric contraction reaches that bound in a few rounds
    * at any scale, and every avoided tail round is a full cluster
    * barrier spent on a few thousand rows.
    *
    * Output: (id, component_id, is_canonical) for EVERY input doc —
    * singletons form their own component — so a training-data pipeline
    * filters `is_canonical` to drop all but one copy per cluster.
    *
    * Partial convergence is an ERROR, never a silent result: a graph
    * whose diameter exceeds `maxIter` would otherwise come back with
    * split components (several "canonical" docs per real cluster), so
    * exhausting the loop throws.
    *
    * Every round hands its labels and contracted edges on through
    * [[graft.ops.Iterate.loopBarrier]] (see [[graft.ops.Iterate]] for
    * why a checkpoint with measured stats, not a persist), and
    * [[graft.ops.Iterate.loop]] frees superseded rounds — no
    * session-lifetime cache leak. */
  def resolveComponents(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxIter: Int = 50,
      localFinishEdges: Long = componentsLocalFinishEdges): DataFrame =
    Iterate.loop("resolveComponents", maxIter, s"it needed more than " +
        s"$maxIter rounds (each round is one neighbour step plus a " +
        "pointer-doubling closure and a graph contraction, so rounds scale " +
        "~log(diameter)); returning here would silently split components. " +
        "Raise maxIter.") { l =>
    // symmetrized edge list; labels flow both directions. A barrier leaf:
    // every round's plan references edges, so it must be constant-size.
    // The edge COUNT (the local-finish gate read at every loop top)
    // rides each edge barrier's materialization job — src is never null
    // (ids), so the non-null count ≡ the former edges.count().
    l.stage("edges")
    var (edges, ec0) = Iterate.loopBarrierProbe(
      Similarity.symmetrize(pairs, "src", "dst"), Seq("src"))
    var eCount = ec0(0)._1
    l.stage("labels")
    var labels = Iterate.loopBarrier(docs.select(col(idCol).as("id"))
      .distinct().select($"id", $"id".as("comp")))
    // Pointer-doubling closure: comp ← comp(comp) until stable. Labels
    // are monotone non-increasing and always existing vertex ids, so
    // each pass halves every pointer chain — O(log chain-length) passes,
    // which 64 bounds for any id count. Change detection rides along as
    // a column (`ch` = strictly decreased), so the convergence probe is
    // a scan of the just-checkpointed blocks, never another join.
    def jumpClosure(tbl: DataFrame): DataFrame =
      Iterate.loop("resolveComponents.closure", 64,
          "pointer doubling halves every chain per pass") { c =>
        var cur = tbl
        var moving = true
        while (moving) {
          c.round(cur)
          val (jumped, st) = Iterate.loopBarrierProbe(cur.as("c")
            .join(cur.select($"id".as("jid"), $"comp".as("jcomp")),
              $"c.comp" === $"jid", "left")
            .select($"c.id".as("id"),
              least($"c.comp", coalesce($"jcomp", $"c.comp")).as("comp"),
              (least($"c.comp", coalesce($"jcomp", $"c.comp")) < $"c.comp").as("ch")),
            Seq("ch"))
          moving = st(0)._2 > 0 // Σ of the 0/1 change flags ≡ "any changed"
          cur = jumped.select($"id", $"comp")
        }
        cur
      }
    // min neighbour label per vertex: the only step that moves
    // information ACROSS edges (the closure only compresses chains
    // already discovered)
    def nbrMin() = edges.join(labels, $"dst" === $"id")
      .groupBy($"src").agg(min($"comp").as("nbr_comp"))
    var converged = false
    while (!converged) {
      if (l.rounds == maxIter) {
        l.stage("stability")
        // The loop only proves convergence via a zero-change round, so a
        // graph that fully resolved in exactly maxIter rounds lands here
        // with correct labels. One stability probe (would another
        // neighbour step change anything?) separates that from a
        // genuinely split labeling, which the next round() refuses.
        converged = labels.as("l")
          .join(nbrMin(), $"l.id" === $"src")
          .where($"nbr_comp" < $"l.comp").limit(1).count() == 0
      }
      if (!converged) {
        l.round(labels, edges)
        // local finish: once the contracted graph is driver-small, one
        // union-find replaces every remaining round. The collect is
        // BOUNDED by localFinishEdges — same class as the other accepted
        // driver materializations (centroids, partition totals), and the
        // union-find's min-id roots are exactly the min-label fixpoint the
        // distributed rounds converge to, so output is bit-identical.
        // (localFinishEdges = 0 disables, keeping the loop fully
        // distributed — DedupSpec pins both paths equal.)
        // eCount rides the edge barriers' materialization jobs (set at
        // the initial barrier and re-set at every contraction below)
        if (eCount <= localFinishEdges) {
          // the edge list is symmetric, so one direction carries every edge
          val mapping = Iterate.minIdRoots(edges.where($"src" < $"dst"))
          if (mapping.nonEmpty) {
            val mapDf = labels.sparkSession.createDataFrame(mapping)
              .toDF("_rep", "_fin")
            labels = Iterate.loopBarrier(labels.join(broadcast(mapDf),
                $"comp" === $"_rep", "left")
              .select($"id", coalesce($"_fin", $"comp").as("comp")))
          }
          converged = true
        } else {
          // neighbour step: min label over self + neighbours
          val (stepped, stepSt) = Iterate.loopBarrierProbe(labels.as("l")
            .join(nbrMin(), $"l.id" === $"src", "left")
            .select($"l.id".as("id"),
              least($"l.comp", coalesce($"nbr_comp", $"l.comp")).as("comp"),
              (least($"l.comp", coalesce($"nbr_comp", $"l.comp")) < $"l.comp").as("ch")),
            Seq("ch"))
          if (stepSt(0)._2 == 0) converged = true // Σ of the 0/1 change flags
          else {
            labels = jumpClosure(stepped.select($"id", $"comp"))
            // contract: rewrite every edge through the fresh labels. After
            // jumpClosure every comp value is a fixpoint representative, so
            // (comp(u), comp(v)) edges connect reps only; self-loops (edges
            // now inside one component) drop, and dedup collapses the
            // parallel edges a big cluster produces. Mapping both stored
            // directions keeps the list symmetric without a re-union.
            val (contracted, ecSt) = Iterate.loopBarrierProbe(edges
              .join(labels.select($"id".as("src"), $"comp".as("csrc")), Seq("src"))
              .join(labels.select($"id".as("dst"), $"comp".as("cdst")), Seq("dst"))
              .where($"csrc" =!= $"cdst")
              .select($"csrc".as("src"), $"cdst".as("dst"))
              .distinct(), Seq("src"))
            edges = contracted
            eCount = ecSt(0)._1
          }
        }
      }
    }
    labels.select($"id".as(idCol), $"comp".as("component_id"),
      ($"id" === $"comp").as("is_canonical"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC dedup at
    * corpus scale by clustering embeddings into cells and comparing
    * pairs only WITHIN a cell — the published answer to "embedding
    * near-dup without an all-pairs join and without a metadata blocking
    * column". Composes the pieces this engine already has:
    *
    *  1. coarse centroids ([[Similarity.ivfCentroidsKmeans]] — the
    *     oversampled seeding keeps index build at a constant number of
    *     scans; pass `centroids` for the oracle-reproducible farthest
    *     variant);
    *  2. cell assignment = [[Similarity.ivfCell]]'s narrow argmax over
    *     inlined centroids — the corpus is never shuffled to build the
    *     index;
    *  3. within-cell pairs: ONE shuffle on the cell id, candidate count
    *     bounded by the largest cell (pick nCells so cells average
    *     corpus/nCells — SemDeDup uses ~100k cells at web scale);
    *  4. [[resolveComponents]] + min-id canonical per semantic cluster.
    *
    * Output: (id, cell, component_id, is_canonical) for every input
    * vector. Zero-norm vectors get a cell (argmax of all-zero scores =
    * cell 0, same as every engine's first-max tiebreak) but never pair:
    * cosine is undefined for them, so they stay singleton components.
    *
    * `maxCell` (0 = unlimited) caps cell size before the self-join —
    * the same guard as [[minhashLsh]]'s `maxBucket`: a degenerate
    * quantizer (one dominant cluster, too few cells) can pull a constant
    * fraction of the corpus into one cell, and a cell of m vectors costs
    * m² candidates. Vectors in an over-cap cell keep their cell id but
    * skip pairing (they resolve as singletons). The default keeps exact
    * semantics for oracle parity; at 100 TB set a cap (or raise
    * nCells — SemDeDup's own answer is ~100k cells). */
  def semanticDedup(emb: DataFrame, nCells: Int = 4, threshold: Double = 0.3,
      centroids: Option[Array[Array[Double]]] = None,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCell: Int = 0): DataFrame = {
    val cents = centroids.getOrElse(
      Similarity.ivfCentroidsKmeans(emb, nCells, iters = 0, idCol = idCol,
        vecCol = vecCol))
    val assigned = emb
      .select(col(idCol), col(vecCol),
        Similarity.ivfCell(col(vecCol), cents).as("cell"))
      .persistScoped // feeds both pair-join sides and the final output join
    val nzAll = assigned
      .where(Similarity.dot(col(vecCol), col(vecCol)) > 0)
      .select(col(idCol), col(vecCol), $"cell")
    val nz =
      if (maxCell <= 0) nzAll
      else {
        val hot = nzAll.groupBy($"cell").agg(count(lit(1)).as("_n"))
          .where($"_n" > maxCell).select($"cell")
        // a USING join reorders columns (join key first) — restore the
        // canonical order the positional toDF renames below rely on
        nzAll.join(broadcast(hot), Seq("cell"), "left_anti")
          .select(col(idCol), col(vecCol), $"cell")
      }
    val minQ4 = math.floor(threshold * 10000).toLong
    val pairs = nz.toDF("id_a", "vec_a", "cell")
      .join(nz.toDF("id_b", "vec_b", "cell"), Seq("cell"))
      .where($"id_a" < $"id_b")
      .where(Similarity.floorQ4(
        Similarity.cosine($"vec_a", $"vec_b")) >= minQ4)
      .select($"id_a", $"id_b")
    val comps = resolveComponents(emb.select(col(idCol)), pairs, idCol = idCol)
    assigned.select(col(idCol), $"cell")
      .join(comps, Seq(idCol))
      .select(col(idCol), $"cell", $"component_id", $"is_canonical")
  }

  /** 16-bit SimHash from md5-derived per-token hashes: bit j of the
    * document hash is the sign of Σ_tokens (2·bit_j(h(token)) − 1). */
  /** Per-token 32-bit hashes (one md5 pass). Store this as a column and
    * feed [[simhash16FromHashes]] — inlining it 16× would re-run md5 per
    * bit (higher-order exprs are outside Spark's subexpression CSE). */
  def tokenHashes(toks: Column): Column =
    transform(toks, w =>
      conv(substring(md5(w.cast("binary")), 1, 8), 16, 10).cast("long"))

  def simhash16FromHashes(hashes: Column): Column = {
    val bitSums = (0 until 16).map { j =>
      aggregate(hashes, lit(0L),
        (acc, h) => acc + (shiftright(h, j).bitwiseAND(1) * 2 - 1))
    }
    bitSums.zipWithIndex.map { case (s, j) =>
      when(s > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  def simhash16(toks: Column): Column = simhash16FromHashes(tokenHashes(toks))

  /** Per-token hashes under an independent salt (prepended to the token
    * before md5), for multi-block SimHash signatures. Salt 0 is NOT
    * [[tokenHashes]] — block sigs are always salted so the four blocks
    * are independent projections. */
  def saltedTokenHashes(toks: Column, salt: Int): Column =
    transform(toks, w =>
      conv(substring(md5(concat(lit(s"s$salt"), w).cast("binary")), 1, 8),
        16, 10).cast("long"))

  /** SimHash NEAR-duplicate pairs: all (id_a < id_b) whose 64-bit
    * signatures differ in at most `k` bits (Charikar STOC'02 signatures;
    * Manku/Jain/Das Sarma WWW'07 search structure).
    *
    * The 64-bit signature is four independent 16-bit SimHash blocks
    * (salted token hashes), and the candidate index is the PIGEONHOLE
    * multi-index over exactly those blocks: a pair at Hamming distance
    * ≤ 3 over 64 bits must agree EXACTLY on at least one of the four
    * 16-bit blocks, so an equi self-join on (block_idx, block_value)
    * is a provably COMPLETE candidate generator for k ≤ 3 — the
    * all-pairs comparison never exists, same guarantee structure as
    * [[ngramJaccard]]'s prefix filter. Candidates are then verified
    * exactly: Σ_blocks bit_count(a XOR b) ≤ k.
    *
    * Scale shape: signatures are narrow per-row kernel work (one md5
    * pass per salt); the only shuffle is the 4-key-per-doc bucket
    * self-join. Block values are 16-bit here to stay oracle-checkable —
    * a 100-TB deployment widens each block (the standard layout is
    * 64-bit blocks of a 256-bit sig), which only SHRINKS buckets; the
    * plan is unchanged. Empty/degenerate corpora with many identical
    * signatures collapse into exact-dup buckets first (run [[exact]]
    * before this, as [[minhashLsh]] documents). */
  def simhashNear(docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 0 && k <= 3,
      s"pigeonhole over 4 blocks is complete only for k in [0,3], got $k")
    val toksC = TextStats.tokens(col(textCol))
    // one-pass kernel, not the 4×16 interpreted bit-sum HOFs (which cost
    // 25 s at sf0.1 when CollapseProject re-inlined the hash transform);
    // kernel ≡ declarative chain pinned in DedupSpec
    val sigs = docs
      .select(col(idCol),
        graft.functions.SimhashBlocks(toksC, 4).as("_sigs"))
      .select(col(idCol) +:
        (0 until 4).map(i => element_at($"_sigs", i + 1).as(s"sig$i")): _*)
      .persistScoped // both sides of the block self-join read this frame
    val sigCols = (0 until 4).map(i => $"sig$i")
    val blocks = sigs.select(
      col(idCol) +: sigCols :+
        posexplode(array(sigCols: _*)).as(Seq("blk", "bval")): _*)
    val a = blocks.toDF(blocks.columns.map(_ + "_a"): _*)
    val b = blocks.toDF(blocks.columns.map(_ + "_b"): _*)
    val idA = col(idCol + "_a")
    val idB = col(idCol + "_b")
    val hamming = (0 until 4).map(i =>
      bit_count($"sig${i}_a".bitwiseXOR($"sig${i}_b")).cast("long"))
      .reduce(_ + _)
    a.join(b, $"blk_a" === $"blk_b" && $"bval_a" === $"bval_b" && idA < idB)
      .select((idA.as("id_a") :: idB.as("id_b") :: Nil) ++
        (0 until 4).flatMap(i => Seq($"sig${i}_a", $"sig${i}_b")): _*)
      .distinct() // a pair agreeing on several blocks appears once
      .select($"id_a", $"id_b", hamming.as("hamming"))
      .filter($"hamming" <= k)
  }

  /** Word-set Jaccard near-dup via PREFIX FILTERING (the All-Pairs /
    * PPJoin family: Bayardo et al. WWW'07, Xiao et al. WWW'08), blocked
    * per lang: candidates are pairs sharing a token in their
    * frequency-ordered (n − ⌈t·n⌉ + 1)-prefixes; verified with exact
    * Jaccard ≥ t.
    *
    * Why this shape: a pair with J ≥ t must overlap in ≥ ⌈t·max(|a|,|b|)⌉
    * tokens, and two sets overlapping that much MUST share an element of
    * their (|x| − ⌈t·|x|⌉ + 1)-prefixes under any fixed global token
    * order — so the candidate set is provably COMPLETE (identical output
    * to the quadratic form), unlike MinHash banding which is
    * probabilistic. Ordering tokens rarest-first makes prefix tokens the
    * least common ones, so join buckets stay tiny: at 100 TB an (en,
    * len-bucket) block holds millions of docs (O(n²) pairs), while a
    * (lang, rare-token) bucket holds the handful of docs actually
    * containing that token. Cost is a word-count shuffle + one window
    * sort over doc tokens — all linear in corpus size.
    *
    * `maxDf > 0` is the PRODUCTION df cap: tokens appearing in more
    * than `maxDf` documents are removed from every token SET — both
    * candidate generation and the Jaccard verify — so Jaccard is
    * computed over the capped sets (deterministic, oracle-replayable
    * semantics, not a best-effort prune). By pigeonhole at most
    * Σ|set|∕maxDf distinct tokens can exceed the cap, so the stop list
    * is a BOUNDED driver materialization — COUNTED first, collected
    * only under the bound (the ops/Journeys convention: a pathological
    * tiny maxDf on a huge vocabulary must fail loudly, not OOM the
    * driver mid-collect) — and shipped as a codegen reference-object
    * hash set ([[graft.functions.ArrayExceptSet]], the BloomJoin bitset
    * pattern), never a plan literal; no extra corpus shuffle. Docs
    * whose whole set is stop-listed drop out (they carry no
    * discriminative tokens). 0 disables the cap. */
  def ngramJaccard(docs: DataFrame, threshold: Double = 0.8,
      maxDf: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = docs.select(
      $"doc_id", $"lang", array_distinct(TextStats.tokens($"text")).as("toks"))
    val capped =
      if (maxDf <= 0) raw
      else {
        val stopDf = raw.select(explode($"toks").as("tok"))
          .groupBy($"tok").agg(count(lit(1)).as("freq"))
          .where($"freq" > maxDf)
          .select($"tok")
          .persistScoped // counted then collected — one computation
        val nStop = stopDf.count()
        require(nStop <= 100000,
          s"df cap yielded $nStop stop tokens — raise maxDf")
        val stop = stopDf.collect().map(_.getString(0))
        if (stop.isEmpty) raw
        else raw.select($"doc_id", $"lang",
            graft.functions.ArrayExceptSet($"toks", stop).as("toks"))
          .where(size($"toks") > 0)
      }
    val prepared = capped
      .withColumn("n_toks", size($"toks"))
      .persistScoped
    val docToks = prepared.select($"doc_id", $"lang", $"n_toks",
      explode($"toks").as("tok"))
    // global document frequency fixes the token order (rarest first,
    // lexicographic tiebreak — deterministic)
    val tokFreq = docToks.groupBy($"tok").agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy($"doc_id").orderBy($"freq", $"tok")
    // persisted: both sides of the self-join read this frame — without
    // the barrier the freq join + window sort run twice
    val prefixes = docToks.join(tokFreq, Seq("tok"))
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= $"n_toks" - ceil($"n_toks" * threshold) + 1)
      .select($"doc_id", $"lang", $"n_toks", $"tok", $"rn")
      .persistScoped
    // POSITIONAL filter (the PPJoin tightening of the prefix filter,
    // Xiao et al. WWW'08 §3.2): for the FIRST token two docs share in
    // the global (freq, tok) order, every other common token sits at a
    // LATER position in both lists, so |a∩b| ≤ 1 + min(n_a−p_a, n_b−p_b)
    // — and the first common token of a qualifying pair is provably
    // inside both prefixes (a later first-common contradicts
    // o ≥ ⌈t·n⌉), so keeping every join row whose positional bound
    // still admits the threshold keeps a SUPERSET of the qualifying
    // pairs: answer-identical, candidates collapse. Measured at the
    // 10× Heaps corpus: 14.1M → see ROUND_NOTES r12 (the verify stage
    // was 4,270× over-generated against 3,310 true pairs). The test is
    // pure long arithmetic in the verify's own floorQ4 semantics
    // (10⁴·bound ≥ tq4·(n_a+n_b−bound), monotone in overlap — no float
    // edge can prune a borderline pair the verify would keep).
    val tq4 = math.floor(threshold * 10000).toLong
    val posBound = lit(1L) +
      least($"n_a" - $"rn_a", $"n_b" - $"rn_b").cast("long")
    val cands = prefixes.toDF("id_a", "lang", "n_a", "tok", "rn_a")
      .join(prefixes.toDF("id_b", "lang", "n_b", "tok", "rn_b"),
        Seq("lang", "tok"))
      .where($"id_a" < $"id_b")
      // lossless size prefilter: |a∩b| ≤ min ⇒ j ≤ min/max, so pairs with
      // min/max < threshold can't pass — skip the intersect entirely
      .where(least($"n_a", $"n_b").cast("double") /
        greatest($"n_a", $"n_b") >= threshold)
      .where(lit(10000L) * posBound >=
        lit(tq4) * ($"n_a" + $"n_b" - posBound))
      .select($"id_a", $"id_b", $"lang").distinct()
      // persisted: candidates are the narrow waist of the operator (3 small
      // columns). Callers routinely re-evaluate the returned frame — a
      // global orderBy alone walks it 3× (range-partitioner sampling, sort
      // shuffle map, reduce) — and without this barrier each walk re-runs
      // the self-join + verify chain (measured 29 s → 137 s at sf0.1).
      .persistScoped
    val sets = prepared.select($"doc_id", $"toks")
    // Score EVERY candidate in a plain projection, persist, THEN filter.
    // Without the barrier Catalyst pushes `jaccard_q4 >= t` into the
    // second join as a join CONDITION (the predicate references both
    // sides), where the array_intersect is evaluated per probe row
    // outside the projection's subexpression elimination — and appears
    // again in the output projection, so the intersection ran up to 4×
    // per pair (measured 23 s → 2 s for the verify stage at sf0.1). The
    // cached frame is 4 narrow columns per candidate, and it doubles as
    // the replay point for a caller's sort/write walks.
    val scored = cands
      .join(sets.toDF("id_a", "toks_a"), Seq("id_a"))
      .join(sets.toDF("id_b", "toks_b"), Seq("id_b"))
      .select($"id_a", $"id_b", $"lang",
        Similarity.floorQ4(jaccard($"toks_a", $"toks_b")).as("jaccard_q4"))
      .persistScoped
    scored.where($"jaccard_q4" >= math.floor(threshold * 10000).toLong)
  }

  /** Exact-substring duplicate SPANS — the ExactSubstr dedup of Lee et
    * al. 2021 ("Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499) re-expressed as a distributed k-gram
    * fingerprint join instead of a monolithic suffix array (their §3.2
    * builds one over the whole corpus, which has no parallel shape):
    *
    *  1. every word k-gram is hashed with its position,
    *  2. a gram is DUPLICATED if it occurs ≥ 2 times corpus-wide,
    *  3. per doc, duplicated positions chain into maximal spans via
    *     gaps-and-islands (positions p, q overlap/adjoin iff q ≤ p+k),
    *  4. spans shorter than `minSpan` tokens are dropped.
    *
    * COMPLETENESS: any substring of ≥ max(minSpan, k) tokens that
    * appears twice in the corpus has all its k-grams duplicated at
    * consecutive positions (gap 1 ≤ k), so it lands inside exactly one
    * reported span. Precision is approximate in the other direction — a
    * span may chain two distinct duplicates that touch — which is the
    * standard trade the k-gram formulations make vs a true suffix array.
    *
    * Scale shape: the explode is narrow (doc_id, pos, 16-byte hash —
    * never the gram text); duplicate detection is one map-side-combined
    * hash aggregate with an early `count ≥ 2` cut; the probe is an
    * equi semi-join on the hash (co-partitioned, no broadcast needed on
    * either side because both are corpus-sized); the island pass is one
    * shuffle by doc_id. A gram occurring in millions of docs costs one
    * row in the duplicate-hash frame and never amplifies the join output
    * beyond the input position count. md5 keeps every step
    * DuckDB-oracle-reproducible; a production deployment would swap in
    * `xxhash64` for cheaper fingerprints with the same plan. */
  def duplicateSpans(docs: DataFrame, k: Int = 5, minSpan: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    require(minSpan >= k, s"minSpan ($minSpan) must be >= k ($k)")
    // persisted: the duplicate-hash aggregate AND the semi-join probe
    // both read this frame — without the barrier the scan + tokenize +
    // gram kernel lineage runs twice
    val grams = docs
      // one-pass GramHashes kernel: no per-gram string allocation, no
      // interpreted array passes (DedupSpec pins kernel ≡ declarative)
      .select(col(idCol).as("doc_id"),
        TextStats.tokens(col(textCol)).as("_toks"))
      .select($"doc_id",
        posexplode(graft.functions.GramHashes($"_toks", k)).as(Seq("_p0", "h")))
      .select($"doc_id", ($"_p0" + 1).cast("long").as("pos"), $"h")
      .persistScoped
    val dupHashes = grams.groupBy($"h")
      .agg(count(lit(1)).as("_n")).where($"_n" >= 2).select($"h")
    val wOrd = Window.partitionBy($"doc_id").orderBy($"pos")
    val islands = grams.join(dupHashes, Seq("h"), "left_semi")
      // first position of a doc has NULL lag → NULL comparison → new island
      .withColumn("_new",
        when($"pos" - lag($"pos", 1).over(wOrd) <= k, lit(0L)).otherwise(lit(1L)))
      .withColumn("_isl", sum($"_new").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy($"doc_id", $"_isl")
      .agg(min($"pos").as("span_start"),
        (max($"pos") + (k - 1)).as("span_end"))
      .withColumn("span_tokens", $"span_end" - $"span_start" + 1)
      .where($"span_tokens" >= minSpan)
      .select($"doc_id", $"span_start", $"span_end", $"span_tokens")
  }

  /** Segment-level GLOBAL dedup at sub-document granularity — the C4 /
    * CCNet paragraph-dedup shape: the corpus is cut into fixed
    * `segLen`-token segments on a deterministic grid, every repeated
    * segment keeps only its globally FIRST occurrence (smallest
    * (doc_id, seg_idx)), and each doc is rebuilt from its surviving
    * segments in order. Unlike doc-level [[exact]] this removes the
    * boilerplate that repeats across *different* documents (headers,
    * navigation, license blocks) while keeping the unique remainder.
    *
    * Returns one row per input doc: `(doc_id, n_seg, n_kept,
    * text_dedup)` — cardinality-preserving like [[removeSpans]]; a doc
    * whose every segment lost comes back with `n_kept = 0` and empty
    * text, not a dropped row.
    *
    * Scale shape: the winner per distinct segment is `min(struct(doc_id,
    * seg_idx))` — ONE map-side-combined hash aggregate, so a
    * corpus-hot segment (boilerplate repeated in millions of docs)
    * ships one partial row per map partition, never its occurrence
    * universe (the same reason [[exact]] aggregates instead of
    * windowing). Reassembly is a second map-side-combinable aggregate
    * over winners only — already ≤ one row per distinct segment. Both
    * exchanges carry segment TEXT once each; at production scale the
    * winner pass would key on a 16-byte segment digest with the text
    * resolved by a third join, same plan shape. */
  def segmentDedup(docs: DataFrame, segLen: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(segLen >= 1, s"segLen must be >= 1, got $segLen")
    val base = docs
      .select(col(idCol).as("doc_id"), TextStats.tokens(col(textCol)).as("_toks"))
      // ceil(n / segLen) in exact integer arithmetic (tokens is never
      // empty under this tokenizer: "" tokenizes to [""])
      .withColumn("_nseg",
        floor((size($"_toks") + lit(segLen - 1)) / lit(segLen)).cast("long"))
      .persistScoped // read twice: segment explode + per-doc totals
    val occ = base.select($"doc_id",
      posexplode(transform(sequence(lit(0), ($"_nseg" - 1).cast("int")),
        i => array_join(slice($"_toks", i * segLen + 1, lit(segLen)), " ")))
        .as(Seq("seg_idx", "seg")))
    val winners = occ.groupBy($"seg")
      .agg(min(struct($"doc_id", $"seg_idx")).as("_w"))
      .select($"_w.doc_id".as("doc_id"), $"_w.seg_idx".as("seg_idx"), $"seg")
    val kept = winners.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct($"seg_idx", $"seg"))),
          s => s.getField("seg"))).as("text_dedup"))
    base.select($"doc_id", $"_nseg".as("n_seg"))
      .join(kept, Seq("doc_id"), "left")
      .select($"doc_id", $"n_seg",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"text_dedup", lit("")).as("text_dedup"))
  }

  /** Incremental dedup of a NEW batch against an EXISTING corpus — the
    * daily-crawl-increment shape: for every new document, (a) whether
    * its exact content hash already exists in the corpus, and (b) what
    * fraction of its `segLen`-token segments the corpus already
    * contains (containment in basis points) — the asymmetric overlap
    * signal symmetric Jaccard misses when a new doc is a quoted SUBSET
    * of an old one. Returns one row per new doc: `(doc_id, n_seg,
    * n_shared, contain_bp, is_exact_dup)`; the caller thresholds
    * `contain_bp` for near-dup policy.
    *
    * Scale shape: the corpus side reduces to its DISTINCT digests and
    * DISTINCT segments once (map-side-combinable); the exact check is a
    * semi-join on the 16-byte digest and containment is one segment
    * equi-join (the decontaminate shape — bucketed by segment text,
    * no pairwise work), followed by a per-new-doc count. Only the new
    * batch — typically orders of magnitude smaller than the corpus —
    * ever re-aggregates. */
  def incrementalDedup(corpus: DataFrame, newDocs: DataFrame,
      segLen: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(segLen >= 1, s"segLen must be >= 1, got $segLen")
    def segs(df: DataFrame) = df
      .select(col(idCol).as("doc_id"), TextStats.tokens(col(textCol)).as("_toks"))
      .withColumn("_nseg",
        floor((size($"_toks") + lit(segLen - 1)) / lit(segLen)).cast("long"))
      .select($"doc_id", $"_nseg",
        explode(transform(sequence(lit(0), ($"_nseg" - 1).cast("int")),
          i => array_join(slice($"_toks", i * segLen + 1, lit(segLen)), " ")))
          .as("seg"))
    val corpusSegs = segs(corpus).select($"seg").distinct()
    val corpusDigests = corpus
      .select(contentHash(col(textCol)).as("_h")).distinct()
    val newSegs = segs(newDocs)
      // distinct within the doc: containment counts DISTINCT segments
      .dropDuplicates("doc_id", "seg")
      .persistScoped // read twice: totals + shared counts
    val totals = newSegs.groupBy($"doc_id")
      .agg(first($"_nseg").as("n_seg"), count(lit(1)).as("_n_distinct"))
    val shared = newSegs
      .join(corpusSegs, Seq("seg"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
    val exact = newDocs
      .select(col(idCol).as("doc_id"), contentHash(col(textCol)).as("_h"))
      .join(corpusDigests.withColumn("_dup", lit(true)), Seq("_h"), "left")
      .select($"doc_id", coalesce($"_dup", lit(false)).as("is_exact_dup"))
    totals
      .join(shared, Seq("doc_id"), "left")
      .join(exact, Seq("doc_id"))
      .select($"doc_id", $"n_seg",
        coalesce($"n_shared", lit(0L)).as("n_shared"),
        expr("(10000 * coalesce(n_shared, 0L)) div _n_distinct").as("contain_bp"),
        $"is_exact_dup")
  }

  /** ASYMMETRIC containment join — quote detection: all pairs (a, b)
    * where ≥ `thresholdBp`/10⁴ of a's DISTINCT tokens also occur in b
    * (a from `left`, b from `right`, a ≠ b). The signal symmetric
    * Jaccard structurally misses: a short doc quoted verbatim inside
    * a long one has containment 1.0 but Jaccard ≈ |a|∕|b| ≈ 0.
    *
    * Candidate generation is a COMPLETE prefix filter adapted to
    * containment (the PPJoin family): order a's tokens rarest-first
    * (by right-corpus frequency) and keep the (|a| − ⌈t·|a|⌉ + 1)-
    * prefix — a pair with |a∩b| ≥ ⌈t·|a|⌉ has fewer non-prefix
    * elements in a than that, so some SHARED token is in the prefix;
    * b is probed on its FULL token set (required for containment —
    * only the probing side's prefix can be bounded). Verification is
    * exact set intersection on the candidate pairs only.
    *
    * Scale shape: rarest-first prefixes keep the a-side buckets tiny;
    * the b-side posting list of a rare token is short by definition.
    * The adversarial case — a probe doc made ENTIRELY of corpus-hot
    * tokens — degrades to that token's posting list, which is why the
    * probing side is the place for a small/filtered frame (the
    * decontaminate/bm25 probe contract). Integer threshold math
    * throughout (⌈t·n⌉ = (bp·n + 9999) div 10⁴). */
  def containmentJoin(left: DataFrame, right: DataFrame,
      thresholdBp: Int = 9000, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(thresholdBp >= 1 && thresholdBp <= 10000,
      s"thresholdBp must be in [1, 10000], got $thresholdBp")
    import org.apache.spark.sql.expressions.Window
    def sets(df: DataFrame, name: String) = df.select(
      col(idCol).as(name), array_distinct(TextStats.tokens(col(textCol))).as("_s"))
    val rightSets = sets(right, "id_b").persistScoped
    val rightToks = rightSets
      .select($"id_b", explode($"_s").as("w"))
      .persistScoped // frequency table + candidate probe both read this
    val freq = rightToks.groupBy($"w").agg(count(lit(1)).as("_df"))
    val leftSets = sets(left, "id_a").persistScoped
    val w = Window.partitionBy($"id_a").orderBy($"_df".asc, $"w".asc)
    val leftPrefix = leftSets
      .select($"id_a", size($"_s").as("_na"), explode($"_s").as("w"))
      .join(freq, Seq("w"), "left")
      .withColumn("_df", coalesce($"_df", lit(0L)))
      .withColumn("_rk", row_number().over(w))
      .where($"_rk" <= $"_na" -
        expr(s"($thresholdBp * _na + 9999) div 10000") + 1)
    val cand = leftPrefix.select($"id_a", $"w")
      .join(rightToks, Seq("w"))
      .where($"id_a" =!= $"id_b")
      .select($"id_a", $"id_b").distinct()
    cand
      .join(leftSets, Seq("id_a"))
      .join(rightSets.toDF("id_b", "_sb"), Seq("id_b"))
      .select($"id_a", $"id_b", size($"_s").cast("long").as("n_a"),
        size(array_intersect($"_s", $"_sb")).cast("long").as("overlap"))
      .where(lit(10000L) * $"overlap" >= lit(thresholdBp.toLong) * $"n_a")
      .withColumn("contain_bp", expr("(10000 * overlap) div n_a"))
  }

  /** Per-source curation dashboard: the numbers a dataset card reports
    * before training — docs, exact-duplicate count/rate (docs beyond
    * the first per content digest) and segment-level duplication
    * (copies beyond the first per distinct `segLen`-token segment,
    * WITHIN the source). One digest aggregate + one segment aggregate,
    * both map-side combined; text never shuffles (digests and segment
    * hashes do). */
  def dedupReport(docs: DataFrame, segLen: Int = 8,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    require(segLen >= 1, s"segLen must be >= 1, got $segLen")
    val exact = docs
      .select(col(srcCol).as("source"), contentHash(col(textCol)).as("_h"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"_h").as("_n_uniq"))
      .select($"source", $"n_docs",
        ($"n_docs" - $"_n_uniq").as("n_exact_dups"),
        expr("(10000 * (n_docs - _n_uniq)) div n_docs").as("exact_dup_bp"))
    val segs = docs
      .select(col(srcCol).as("source"),
        TextStats.tokens(col(textCol)).as("_toks"))
      .select($"source", explode(
        transform(sequence(lit(0),
          (floor((size($"_toks") + lit(segLen - 1)) / lit(segLen)) - 1).cast("int")),
          i => array_join(slice($"_toks", i * segLen + 1, lit(segLen)), " ")))
          .as("seg"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_segments"),
        countDistinct($"seg").as("_n_seg_uniq"))
      .select($"source", $"n_segments",
        ($"n_segments" - $"_n_seg_uniq").as("n_seg_dups"),
        expr("(10000 * (n_segments - _n_seg_uniq)) div n_segments")
          .as("seg_dup_bp"))
    exact.join(segs, Seq("source"))
  }

  /** Cross-source containment matrix: for every ordered source pair
    * (a, b), the share of a's DISTINCT `segLen`-token segments that
    * also occur in b — "how much of crawl A is already inside crawl B",
    * the pairwise generalization of [[incrementalDedup]]'s containment
    * signal and the question a curation team asks before paying to
    * dedup two corpora against each other. Asymmetric by design.
    *
    * Scale shape: each source reduces to its distinct segment set
    * first (one map-side-combined aggregate — hot boilerplate ships
    * once per partition), the pair counts come from ONE segment
    * equi-join over those reduced sets, and the output is
    * |sources|² rows. Text never shuffles; distinct segments do. */
  def sourceOverlap(docs: DataFrame, segLen: Int = 8,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    require(segLen >= 1, s"segLen must be >= 1, got $segLen")
    val segs = docs
      .select(col(srcCol).as("source"),
        TextStats.tokens(col(textCol)).as("_toks"))
      .select($"source", explode(
        transform(sequence(lit(0),
          (floor((size($"_toks") + lit(segLen - 1)) / lit(segLen)) - 1).cast("int")),
          i => array_join(slice($"_toks", i * segLen + 1, lit(segLen)), " ")))
          .as("seg"))
      .distinct()
      .persistScoped // totals + both sides of the pair join
    val totals = segs.groupBy($"source").agg(count(lit(1)).as("n_segs"))
    val shared = segs.toDF("src_a", "seg")
      .join(segs.toDF("src_b", "seg"), Seq("seg"))
      .where($"src_a" =!= $"src_b")
      .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("n_shared"))
    // full ordered-pair grid (|sources|² is dashboard-sized), so pairs
    // sharing nothing still show an explicit zero row
    totals.toDF("src_a", "n_segs_a")
      .crossJoin(totals.select($"source".as("src_b")))
      .where($"src_a" =!= $"src_b")
      .join(shared, Seq("src_a", "src_b"), "left")
      .select($"src_a", $"src_b", $"n_segs_a",
        coalesce($"n_shared", lit(0L)).as("n_shared"),
        coalesce(expr("(10000 * n_shared) div n_segs_a"), lit(0L))
          .as("contain_bp"))
  }

  /** The REMOVE half of ExactSubstr dedup: rebuild each doc's text with
    * the tokens covered by its given spans dropped. WHICH docs lose
    * WHICH spans is the caller's policy (e.g. filter [[duplicateSpans]]
    * output to non-canonical copies) — this operator just applies.
    *
    * Docs with no spans keep their ORIGINAL text verbatim; touched docs
    * are rebuilt token-by-token with single spaces (token-level spans
    * can't preserve the original inter-token whitespace — inherent to
    * the formulation, and the corpus normalization a trainer wants
    * anyway). A doc whose spans cover everything comes back as the
    * empty string, not a dropped row — removal never changes corpus
    * cardinality.
    *
    * Scale shape: spans aggregate to one small array per touched doc
    * (spans per doc are few by construction — they're maximal), the
    * join is a broadcast-or-hash equi join on doc_id, and the rebuild
    * is narrow per-row HOF work over an attribute token column. */
  /** Boilerplate removal by corpus document frequency — the CCNet /
    * RefinedWeb curation shape that [[segmentDedup]] deliberately is
    * NOT: a segment repeated across ≥ `minDf` DISTINCT documents
    * (navigation chrome, cookie banners, license blocks) is removed
    * from EVERY document including the first occurrence, while
    * segments merely duplicated inside fewer docs survive untouched.
    * `segmentDedup` keeps one global copy of everything; this drops
    * the corpus-hot set entirely — the two compose (boilerplate first,
    * then first-occurrence dedup of the remainder).
    *
    * Returns one row per input doc: `(doc_id, n_seg, n_removed,
    * text_clean)` — cardinality-preserving like [[removeSpans]]; a doc
    * that was pure boilerplate comes back with empty text, not a
    * dropped row.
    *
    * Scale shape: df-per-segment is two map-side-combinable hash
    * aggregates — (seg, doc) collapse (so a segment repeated 1000×
    * inside one doc ships one partial row per partition), then a count
    * per segment thresholded to the HOT set. The hot set is what
    * broadcasts: occurrences anti-join it in place, so the data-scale
    * side never reshuffles for the filter (if a pathological corpus
    * makes the hot set exceed the broadcast cap, drop the hint and the
    * same plan degrades to a shuffled anti join — semantics identical).
    * Reassembly is the [[segmentDedup]] rebuild aggregate. `base` is
    * the persist barrier; the segment explode is recomputed narrowly
    * from it rather than persisting token-scale occurrence rows twice. */
  def boilerplateFilter(docs: DataFrame, segLen: Int = 8, minDf: Long = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(segLen >= 1, s"segLen must be >= 1, got $segLen")
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val base = docs
      .select(col(idCol).as("doc_id"), TextStats.tokens(col(textCol)).as("_toks"))
      .withColumn("_nseg",
        floor((size($"_toks") + lit(segLen - 1)) / lit(segLen)).cast("long"))
      .persistScoped // read twice: segment explode + per-doc totals
    val occ = base.select($"doc_id",
      posexplode(transform(sequence(lit(0), ($"_nseg" - 1).cast("int")),
        i => array_join(slice($"_toks", i * segLen + 1, lit(segLen)), " ")))
        .as(Seq("seg_idx", "seg")))
      .persistScoped // read twice: df pass + anti-join filter pass
    val hot = occ.groupBy($"seg", $"doc_id").agg(count(lit(1)).as("_o"))
      .groupBy($"seg").agg(count(lit(1)).as("_df"))
      .where($"_df" >= minDf)
      .select($"seg")
    val kept = occ.join(broadcast(hot), Seq("seg"), "left_anti")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct($"seg_idx", $"seg"))),
          s => s.getField("seg"))).as("text_clean"))
    base.select($"doc_id", $"_nseg".as("n_seg"))
      .join(kept, Seq("doc_id"), "left")
      .select($"doc_id", $"n_seg",
        ($"n_seg" - coalesce($"n_kept", lit(0L))).as("n_removed"),
        coalesce($"text_clean", lit("")).as("text_clean"))
  }

  def removeSpans(docs: DataFrame, spans: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sp = spans
      .groupBy(col("doc_id").as("_sid"))
      .agg(collect_list(struct($"span_start", $"span_end")).as("_spans"))
    docs
      .join(sp, col(idCol) === $"_sid", "left")
      .withColumn("_toks", TextStats.tokens(col(textCol)))
      .withColumn("_kept",
        filter(transform($"_toks", (t, i) =>
          when(exists($"_spans", s =>
            i + 1 >= s.getField("span_start") && i + 1 <= s.getField("span_end")),
            lit(null)).otherwise(t)), t => t.isNotNull))
      .select(
        col(idCol),
        when($"_spans".isNull, col(textCol))
          .otherwise(concat_ws(" ", $"_kept")).as("text_clean"),
        when($"_spans".isNull, lit(0L))
          .otherwise((size($"_toks") - size($"_kept")).cast("long"))
          .as("n_removed"))
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo SIGMOD'95): sort
    * the corpus on a blocking key and emit every ordered pair within a
    * sliding window of `w` positions — the classic entity-resolution
    * candidate generator for typo-heavy keys, where equality blocking
    * (exact digest, LSH bucket) misses near-misses that SORT adjacently.
    *
    * Output: `(a_id, b_id, a_key, b_key, rank_dist)` with
    * `1 <= rank_dist <= w` in the `(key, id)` total order (deterministic
    * — id breaks key ties), complete and duplicate-free by construction.
    * Callers verify candidates with whatever scorer fits
    * ([[graft.functions.JaroWinklerBp]], levenshtein, ...).
    *
    * Scale shape: the global row number is NEVER a `Window.orderBy`
    * (single task); it is the distributed-selection machinery — one
    * range exchange on `(key, id)`, per-partition counts to the driver
    * (nPart longs), offset-seeded narrow numbering. Pairs are then one
    * hash equi-join on the target row number with a constant `w`
    * fan-out on the build of the sequence — no window, no self-range
    * join, no skew (row numbers are unique). */
  def sortedNeighborhood(docs: DataFrame, keyCol: Column, w: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    val sess = docs.sparkSession
    import sess.implicits.newProductEncoder
    val nPart = math.max(1, sess.sessionState.conf.numShufflePartitions)
    val ranged = docs
      .select(keyCol.cast("string").as("_k"), col(idCol).cast("long").as("_id"))
      .where($"_k".isNotNull)
      .repartitionByRange(nPart, $"_k", $"_id")
      .sortWithinPartitions($"_k", $"_id")
      .persistScoped
      .as[(String, Long)]
    val counts = ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.get().partitionId()
      var n = 0L
      it.foreach(_ => n += 1)
      Iterator.single((pid, n))
    }.collect().toMap
    val offsets = (0 until nPart).scanLeft(0L)(_ + counts.getOrElse(_, 0L)).toArray
    val bOff = sess.sparkContext.broadcast(offsets)
    val numbered = ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.get().partitionId()
      var rn = bOff.value(pid)
      it.map { case (k, id) => rn += 1; (k, id, rn) }
    }.toDF("_k", "_id", "_rn").persistScoped
    val left = numbered.select(
      $"_id".as("a_id"), $"_k".as("a_key"), $"_rn".as("_rna"),
      explode(sequence($"_rn" + 1, $"_rn" + w)).as("_rn2"))
    val right = numbered.select(
      $"_id".as("b_id"), $"_k".as("b_key"), $"_rn".as("_rn2"))
    left.join(right, "_rn2")
      .select($"a_id", $"b_id", $"a_key", $"b_key",
        ($"_rn2" - $"_rna").cast("long").as("rank_dist"))
  }
}

package graft

import graft.ext.Dedup

/** Dedup operator goldens. The oracle gate covers the parquet-scale runs;
  * these pin the algorithmic properties the oracle can't isolate —
  * above all that prefix filtering is COMPLETE (finds every pair the
  * quadratic all-pairs form finds). */
class DedupSpec extends SparkSpec {

  import spark.implicits._

  test("prefix-filtered jaccard is complete: equals all-pairs, incl. pairs the old length-bucket blocking missed") {
    // doc1/doc2: j = 10/11 ≈ 0.909 — but lengths 60 vs 107 chars put them
    // in DIFFERENT n_chars/100 buckets, so length-bucket blocking dropped
    // this pair; prefix filtering must find it.
    val docs = Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "en", "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda_a_very_long_extra_token_pushing_into_the_next_bucket"),
      (3L, "en", "totally different words entirely unrelated content here now"),
      (4L, "fr", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (5L, "en", "alpha beta gamma delta epsilon zeta eta theta iota nu"))
      .toDF("doc_id", "lang", "text")

    val out = Dedup.ngramJaccard(docs, 0.8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // brute force at t=0.8: (1,2) j=10/11, (1,5) j=9/11≈0.818;
    // (2,5) j=9/12=0.75 fails; doc4 same text but other lang — never paired
    assert(out === Set((1L, 2L), (1L, 5L)))
  }

  test("positional (PPJoin) candidate filter is answer-invariant: " +
      "randomized corpora equal the in-JVM quadratic all-pairs form") {
    // the r12 positional filter prunes join rows by the first-common-
    // token bound; a wrong inequality direction or an off-by-one in the
    // position loses borderline pairs ONLY on adversarial shapes —
    // random perturbed near-dups at two thresholds sweep those.
    val vocab = (0 until 40).map(i => s"w$i")
    for (seed <- Seq(7, 23); t <- Seq(0.5, 0.8)) {
      val rnd = new scala.util.Random(seed)
      val docs = (0 until 48).map { id =>
        val base = rnd.shuffle(vocab).take(6 + rnd.nextInt(10))
        val mutated = base.map(w =>
          if (rnd.nextDouble() < 0.15) vocab(rnd.nextInt(vocab.size)) else w)
        (id.toLong, if (id % 11 == 0) "fr" else "en", mutated.mkString(" "))
      }
      val df = docs.toDF("doc_id", "lang", "text")
      val got = Dedup.ngramJaccard(df, t)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
        .toSet
      // independent quadratic reference: distinct token sets, same
      // floorQ4 threshold semantics
      val sets = docs.map { case (id, lang, text) =>
        (id, lang, text.split("\\s+").filter(_.nonEmpty).toSet)
      }
      val tq4 = math.floor(t * 10000).toLong
      val want = (for {
        (ia, la, sa) <- sets; (ib, lb, sb) <- sets
        if ia < ib && la == lb
        o = (sa & sb).size; u = (sa | sb).size
        if u > 0 && (10000L * o) / u >= tq4
      } yield (ia, ib)).toSet
      assert(got === want, s"seed=$seed t=$t")
    }
  }

  test("ngramJaccard df cap: near-universal tokens leave every SET, " +
      "capped Jaccard is deterministic and oracle-shaped") {
    // "common" sits in 5 of 6 docs; with maxDf=4 it leaves every token
    // set, which RAISES j(1,2) from 4/6 to 4/5 — the pair exists only
    // under the cap (removing a one-sided token shrinks the union)
    val docs = (Seq(
      (1L, "en", "common xtra alpha beta gamma delta"),
      (2L, "en", "alpha beta gamma delta")) ++
      (3L to 6L).map(i => (i, "en", s"common filler_$i")))
      .toDF("doc_id", "lang", "text")
    val uncapped = Dedup.ngramJaccard(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped === Set.empty)
    val capped = Dedup.ngramJaccard(docs, 0.8, maxDf = 4L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Long]("jaccard_q4")))
    assert(capped.toSeq === Seq((1L, 2L) -> 8000L))
    // a cap nothing exceeds is the identity path
    val noop = Dedup.ngramJaccard(docs, 0.8, maxDf = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(noop === uncapped)
    spark.catalog.clearCache()
  }

  test("ngramJaccard df cap: stop list rides as a reference-object set, " +
      "never a plan literal") {
    // 60 docs sharing 40 high-df tokens: with maxDf=4 the stop list has
    // 40 entries — the pre-r11 typedLit form inlined every token into
    // the plan tree (a plan-size/task-binary hazard at the 100k bound)
    val fill = (1 to 40).map(j => s"stopword_$j").mkString(" ")
    val docs = (1L to 60L).map(i => (i, "en", s"$fill unique_$i"))
      .toDF("doc_id", "lang", "text")
    val out = Dedup.ngramJaccard(docs, 0.8, maxDf = 4L)
    // the analyzed plan holds the full lineage (the executed plan
    // truncates the subtrees behind the operator's persist barriers)
    val p = out.queryExecution.analyzed.toString
    assert(p.contains("array_except_set"),
      s"expected the reference-object stop filter in the plan:\n$p")
    assert(!p.contains("stopword_"),
      s"stop tokens leaked into the plan tree as literals:\n$p")
    // capped semantics: every shared token is stop-listed, each doc
    // keeps only its unique token — no pairs survive
    assert(out.count() === 0L)
    spark.catalog.clearCache()
  }

  test("withCacheScope frees every operator-persisted block at scope exit") {
    import org.apache.spark.storage.StorageLevel
    val docs = (1L to 40L).map(i => (i, "en", s"shared words plus unique token_$i here"))
      .toDF("doc_id", "lang", "text")
    var frames: Seq[org.apache.spark.sql.DataFrame] = Nil
    graft.ext.CacheScope.withCacheScope { scope =>
      Dedup.ngramJaccard(docs, 0.5).count()   // materialize inside the scope
      frames = scope.registered
      // the operator's internal barriers registered and are live
      assert(frames.nonEmpty)
      assert(frames.forall(_.storageLevel != StorageLevel.NONE))
    }
    // scope exit unpersisted them all (blocking)
    assert(frames.forall(_.storageLevel == StorageLevel.NONE))
    // outside any scope the session-lifetime contract is unchanged
    val out = Dedup.ngramJaccard(docs, 0.5)
    out.count()
    spark.catalog.clearCache()
  }

  test("minhash hot-bucket cap drops oversized buckets, keeps small ones") {
    // 6 identical boilerplate docs (one hot bucket per band) + 2 distinct
    // near-dups; with maxBucket=4 the boilerplate pairs vanish, the
    // near-dup pair survives
    val boiler = (1L to 6L).map(i => (i, "the same boilerplate text repeated " +
      "over and over forming one hot bucket"))
    val pair = Seq(
      (10L, "completely unrelated document about alpha beta gamma delta epsilon"),
      (11L, "completely unrelated document about alpha beta gamma delta zeta"))
    val docs = (boiler ++ pair).toDF("doc_id", "text")

    val uncapped = Dedup.minhashLsh(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.minhashLsh(docs, 0.5, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((10L, 11L)) && uncapped.exists(_._1 <= 6))
    assert(capped === Set((10L, 11L)))
  }

  test("minhashCalibration: exact duplicates land in the n_match=6 bin at " +
      "true_q4=10000; bins cover every LSH candidate exactly once") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),  // near-dup
      (4L, "totally different content about ships and harbors and tides"))
      .toDF("doc_id", "text")
    val cal = Dedup.minhashCalibration(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    // identical docs agree on all 6 components with true jaccard 10000
    val (_, mean6, min6, max6) = cal(6L)
    assert(min6 <= mean6 && mean6 <= max6)
    assert(max6 === 10000L)
    // a band candidate shares >= one band = >= 2 components
    assert(cal.keySet.forall(m => m >= 2L && m <= 6L))
    // bins partition the candidate set
    val nCands = Dedup.lshCandidates(Dedup.withMinhashBands(docs)).count()
    assert(cal.values.map(_._1).sum === nCands)
  }

  test("ShingleMinhash kernel ≡ declarative HOF chain (sset + all k sigs)") {
    import org.apache.spark.sql.functions._
    import graft.ext.TextStats
    // edge cases: normal doc, <3 tokens (whole-doc fallback), 1 token,
    // empty text (split -> [""]), duplicate shingles
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "two tokens"),
      (3L, "one"),
      (4L, ""),
      (5L, "rep rep rep rep rep rep"))
      .toDF("doc_id", "text")
    val k = 6
    val kernel = docs.select($"doc_id",
        graft.functions.ShingleMinhash(TextStats.tokens($"text"), 3, k).as("_m"))
      .select($"doc_id", $"_m.sset".as("sset"), $"_m.sig".as("sig"))
    val sh = Dedup.shingles(TextStats.tokens($"text"))
    val declarative = docs.select($"doc_id",
        array_distinct(sh).as("sset"),
        array((1 to k).map(i =>
          Dedup.minhashComponent(Dedup.shingleHashes(sh), i)): _*).as("sig"))
    val kRows = kernel.collect().map(r => r.getLong(0) ->
      (r.getSeq[String](1), r.getSeq[Long](2))).toMap
    val dRows = declarative.collect().map(r => r.getLong(0) ->
      (r.getSeq[String](1), r.getSeq[Long](2))).toMap
    assert(kRows === dRows)
  }

  test("resolveComponents: path, pair, and singleton all labeled correctly") {
    // path 1-2-3-4 (diameter 3, multi-round propagation), pair 10-11,
    // singleton 20; null-free long ids
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val out = Dedup.resolveComponents(docs, pairs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("component_id"), r.getAs[Boolean]("is_canonical"))).toMap
    assert(out === Map(
      1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false), 4L -> (1L, false),
      10L -> (10L, true), 11L -> (10L, false),
      20L -> (20L, true)))
  }

  test("semanticDedup: near-identical vectors collapse within cells, zero vector stays singleton") {
    def mk(dir: Int, eps: Float): Array[Float] =
      Array.tabulate(8)(i => (if (i == dir) 1.0f else 0.0f) +
        (if (i == 7) eps else 0.0f))
    val emb = Seq(
      (1L, mk(0, 0.00f)), (2L, mk(0, 0.01f)), (3L, mk(0, 0.02f)),
      (4L, mk(1, 0.00f)), (5L, mk(1, 0.01f)),
      (6L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, nCells = 2, threshold = 0.9).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("component_id"), r.getAs[Boolean]("is_canonical")))).toMap
    assert(out === Map(
      1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false),
      4L -> (4L, true), 5L -> (4L, false),
      6L -> (6L, true)))
    // hot-cell cap: maxCell=2 drops the 3-vector cell from pairing, so
    // 1/2/3 become singletons while the 2-vector cell still collapses
    val capped = Dedup.semanticDedup(emb, nCells = 2, threshold = 0.9,
        maxCell = 2).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("component_id"), r.getAs[Boolean]("is_canonical")))).toMap
    assert(capped === Map(
      1L -> (1L, true), 2L -> (2L, true), 3L -> (3L, true),
      4L -> (4L, true), 5L -> (4L, false),
      6L -> (6L, true)))
  }

  test("resolveComponents: driver local finish ≡ fully distributed rounds") {
    // random sparse graph: enough structure for multi-round distributed
    // convergence; the default path takes the bounded local finish, the
    // localFinishEdges=0 path never does — outputs must be identical.
    // Self-loops and pairs in both orientations ride along: the local
    // finish reads one direction of the symmetric edge list only.
    val rnd = new scala.util.Random(11)
    val n = 300L
    val docs = (1L to n).toDF("doc_id")
    val pairs = ((1 to 260).map { _ =>
      val a = 1L + rnd.nextInt(n.toInt); val b = 1L + rnd.nextInt(n.toInt)
      (math.min(a, b), math.max(a, b))
    } ++ Seq((5L, 5L), (40L, 40L), (290L, 17L))).distinct.toDF("id_a", "id_b")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("component_id"), r.getAs[Boolean]("is_canonical")))).toMap
    val local = asMap(Dedup.resolveComponents(docs, pairs))
    val dist = asMap(Dedup.resolveComponents(docs, pairs, localFinishEdges = 0))
    assert(local === dist)
    assert(local.size === n)
    assert(local(290L)._1 === local(17L)._1)
    // no edges at all: every doc is its own canonical component
    val singletons = (1L to n).map(i => i -> ((i, true))).toMap
    assert(asMap(Dedup.resolveComponents(docs, pairs.limit(0))) === singletons)
    assert(asMap(Dedup.resolveComponents(docs, pairs.limit(0),
      localFinishEdges = 0)) === singletons)
  }

  test("minIdRoots: every endpoint maps to its component's min id, roots omitted") {
    val edges = Seq((9L, 4L), (4L, 7L), (7L, 7L), (20L, 30L), (30L, 25L))
      .toDF("a", "b")
    assert(graft.ops.Iterate.minIdRoots(edges).toMap ===
      Map(9L -> 4L, 7L -> 4L, 30L -> 20L, 25L -> 20L))
    assert(graft.ops.Iterate.minIdRoots(edges.limit(0)).isEmpty)
  }

  test("resolveComponents: plan statistics stay bounded across rounds (no exponential sizeInBytes)") {
    // 64-node chain → several neighbour+jump rounds (~15 checkpointed
    // joins). Without the stats-fresh loop barrier, Catalyst's size-only
    // join estimate doubles sizeInBytes' BIT LENGTH per round (11 →
    // 19,858 bits in 12 rounds measured), and the driver eventually
    // spends minutes in BigInteger.multiply inside the stats visitor —
    // this wedged a full sf0.1 bench run. The barrier keeps every
    // round's leaf at a plain default estimate.
    val n = 64
    val docs = (1L to n).toDF("doc_id")
    val chain = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.resolveComponents(docs, chain, localFinishEdges = 0)
    val bits = out.queryExecution.optimizedPlan.stats.sizeInBytes.bigInteger.bitLength
    assert(bits < 128, s"stats sizeInBytes uses $bits bits - stats are compounding across rounds")
    val comps = out.collect()
    assert(comps.forall(_.getAs[Long]("component_id") == 1L))
    assert(comps.count(_.getAs[Boolean]("is_canonical")) === 1)
  }

  test("resolveComponents: maxIter exhaustion with stable labels returns, not throws") {
    // the path fully resolves inside round 0's jump closure (pointers
    // compress end to end), so with maxIter=1 the loop exhausts with
    // CORRECT labels — the final stability probe must accept them
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.resolveComponents(docs, chain, maxIter = 1,
      localFinishEdges = 0).collect()
    assert(out.forall(_.getAs[Long]("component_id") == 1L))
  }

  test("resolveComponents: throws instead of returning split components at maxIter") {
    // star through a HIGH-id hub: a leaf's min label must cross the hub,
    // which information-theoretically needs a second neighbour round —
    // pointer jumping can't shortcut an edge not yet discovered. With
    // maxIter=1 the labeling is genuinely split (leaves still label
    // themselves), so returning would be silent corruption.
    val docs = Seq(1L, 2L, 3L, 100L).toDF("doc_id")
    val star = Seq((1L, 100L), (2L, 100L), (3L, 100L)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.resolveComponents(docs, star, maxIter = 1, localFinishEdges = 0)
    }
    assert(e.getMessage.contains("needed more than"))
    e match {
      case nc: graft.ops.Iterate.NotConverged =>
        assert(nc.op === "resolveComponents" && nc.limit === 1)
      case other => fail(s"expected Iterate.NotConverged, got $other")
    }
    // and one more round is all it takes
    val ok = Dedup.resolveComponents(docs, star, maxIter = 2,
      localFinishEdges = 0).collect()
    assert(ok.forall(_.getAs[Long]("component_id") == 1L))
  }

  test("GramHashes kernel ≡ declarative wordNgrams+md5 on randomized docs") {
    import graft.ext.TextStats
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(33L)
    val words = Seq("alpha", "βήτα", "中文", "x", "", "a-b", "9")
    val texts = (1L to 60L).map { id =>
      val n = rnd.nextInt(12)
      // random spacing exercises empty tokens from the \s+ split edges
      (id, (1 to n).map(_ => words(rnd.nextInt(words.length)))
        .mkString(if (rnd.nextBoolean()) " " else "  "))
    }
    val df = texts.toDF("doc_id", "text")
      .withColumn("_toks", TextStats.tokens($"text"))
    for (k <- Seq(1, 3, 5)) {
      val kernel = df.select($"doc_id",
        graft.functions.GramHashes($"_toks", k).as("hs")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val decl = df.select($"doc_id",
        transform(TextStats.wordNgrams($"_toks", k),
          g => md5(g.cast("binary"))).as("hs")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(kernel === decl, s"k=$k")
    }
  }

  test("duplicateSpans: completeness on a planted shared substring, chaining, and thresholds") {
    // docs 1 and 2 share a 12-token run (positions 4..15 in doc 1,
    // 1..12 in doc 2); doc 3 shares nothing long enough; doc 4 repeats
    // doc 3's opening 5-gram only (below minSpan)
    val shared = (1 to 12).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      (1L, s"pad1 pad2 pad3 $shared tail1 tail2"),
      (2L, s"$shared other trailing words here"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 u13 u14"),
      (4L, "u1 u2 u3 u4 u5 x1 x2 x3 x4 x5 x6 x7 x8 x9"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, k = 5, minSpan = 8)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("span_start"), r.getAs[Long]("span_end"),
        r.getAs[Long]("span_tokens"))).toSet
    // the shared run is fully covered (completeness guarantee): doc 1
    // tokens 4..15, doc 2 tokens 1..12 — exact, nothing more
    assert(spans === Set((1L, 4L, 15L, 12L), (2L, 1L, 12L, 12L)))
    // the 5-token overlap between docs 3 and 4 is duplicated but below
    // minSpan=8 — with minSpan=5 it must surface at exactly 5 tokens
    val loose = Dedup.duplicateSpans(docs, k = 5, minSpan = 5)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("span_start"), r.getAs[Long]("span_tokens"))).toSet
    assert(loose.contains((3L, 1L, 5L)) && loose.contains((4L, 1L, 5L)))
    // within-doc repetition also counts as duplication (corpus-wide ≥2)
    val selfDup = Seq((9L, ("r1 r2 r3 r4 r5 " * 2).trim + " z1 z2 z3"))
      .toDF("doc_id", "text")
    val self = Dedup.duplicateSpans(selfDup, k = 5, minSpan = 5)
      .collect().map(r => (r.getAs[Long]("span_start"), r.getAs[Long]("span_end")))
    // grams at positions 1..6 all land in the repeated region and chain
    assert(self.nonEmpty && self.head === (1L, 10L))
  }

  test("removeSpans: covered tokens drop, untouched docs verbatim, full-cover keeps the row") {
    import graft.ext.Dedup
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "keep  original   spacing"), // untouched → verbatim text
      (3L, "x y z"))                    // fully covered → empty, row kept
      .toDF("doc_id", "text")
    val spans = Seq(
      (1L, 2L, 4L, 3L),   // drops b c d
      (1L, 7L, 7L, 1L),   // drops g (disjoint second span)
      (3L, 1L, 3L, 3L))
      .toDF("doc_id", "span_start", "span_end", "span_tokens")
    val out = Dedup.removeSpans(docs, spans).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) === (("a e f h", 4L)))
    assert(out(2L) === (("keep  original   spacing", 0L)))
    assert(out(3L) === (("", 3L)))
    assert(out.size === 3) // removal never changes corpus cardinality
  }

  test("exact dedup: canonical = min doc_id per content hash") {
    val docs = Seq((1L, "same"), (2L, "same"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("canonical_id"), r.getAs[Boolean]("is_dup"))).toMap
    assert(out(1L) === (1L, false))
    assert(out(2L) === (1L, true))
    assert(out(3L) === (3L, false))
  }

  test("segmentDedup: global first occurrence wins, docs rebuild in order") {
    import spark.implicits._
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ") // one exact segment
    val docs = Seq(
      // seg0 = boiler, seg1 = unique tail
      (1L, s"$boiler u1 u2 u3"),
      // whole doc is the boilerplate segment -> loses everything
      (2L, boiler),
      // unique head segment, then the boilerplate again -> middle drops,
      // order of survivors preserved
      (3L, (1 to 8).map(i => s"c$i").mkString(" ") + s" $boiler d1 d2")
    ).toDF("doc_id", "text")
    val out = graft.ext.Dedup.segmentDedup(docs, segLen = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((2L, 2L, s"$boiler u1 u2 u3")))
    assert(out(2L) === ((1L, 0L, ""))) // cardinality preserved, text empty
    assert(out(3L) === ((3L, 2L,
      (1 to 8).map(i => s"c$i").mkString(" ") + " d1 d2")))
  }

  test("segmentDedup: a segment repeated WITHIN one doc keeps only its first copy") {
    import spark.implicits._
    val seg = (1 to 8).map(i => s"w$i").mkString(" ")
    val docs = Seq((7L, s"$seg $seg")).toDF("doc_id", "text")
    val out = graft.ext.Dedup.segmentDedup(docs, segLen = 8).head
    assert((out.getLong(1), out.getLong(2), out.getString(3)) ===
      ((2L, 1L, seg)))
  }

  test("boilerplateFilter: corpus-hot segments die EVERYWHERE incl. first occurrence") {
    import spark.implicits._
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler u1 u2 u3"), // first occurrence dies too
      (2L, boiler),              // pure boilerplate -> empty, row kept
      (3L, (1 to 8).map(i => s"c$i").mkString(" ") + s" $boiler d1"),
      (4L, "plain unique text here")
    ).toDF("doc_id", "text")
    val out = graft.ext.Dedup.boilerplateFilter(docs, segLen = 8, minDf = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((2L, 1L, "u1 u2 u3")))
    assert(out(2L) === ((1L, 1L, "")))
    assert(out(3L) === ((3L, 1L,
      (1 to 8).map(i => s"c$i").mkString(" ") + " d1")))
    assert(out(4L) === ((1L, 0L, "plain unique text here")))
    assert(out.size === 4)
  }

  test("incrementalDedup: exact copy, quoted subset, extension, and novel doc") {
    import spark.implicits._
    val base = (1 to 16).map(i => s"w$i").mkString(" ") // exactly 2 segments
    val corpus = Seq((1L, base), (2L, "other stuff entirely here"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (10L, base),                                        // verbatim copy
      (11L, (1 to 8).map(i => s"w$i").mkString(" ")),     // first segment only
      (12L, base + " " + (1 to 8).map(i => s"x$i").mkString(" ")), // extended
      (13L, (1 to 8).map(i => s"q$i").mkString(" "))      // novel
    ).toDF("doc_id", "text")
    val out = graft.ext.Dedup.incrementalDedup(corpus, fresh, segLen = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out(10L) === ((2L, 2L, 10000L, true)))
    assert(out(11L) === ((1L, 1L, 10000L, false))) // contained, NOT exact
    assert(out(12L) === ((3L, 2L, 6666L, false)))  // 2 of 3 segments shared
    assert(out(13L) === ((1L, 0L, 0L, false)))
    assert(out.size === 4)
  }

  test("SimhashBlocks kernel ≡ declarative salted bit-sum chain on randomized docs") {
    import org.apache.spark.sql.functions._
    val docs = (1L to 120L).map { i =>
      (i, (0 until (i % 13).toInt + 1)
        .map(j => s"tok${(i * 31 + j * 7) % 41}").mkString(" "))
    }.toDF("doc_id", "text")
    val toks = graft.ext.TextStats.tokens(col("text"))
    val kernel = docs.select(col("doc_id"),
        graft.functions.SimhashBlocks(toks, 4).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val decl = docs.select(col("doc_id") +: (0 until 4).map(s =>
        Dedup.simhash16FromHashes(Dedup.saltedTokenHashes(toks, s)).as(s"b$s")): _*)
      .collect().map(r => r.getLong(0) ->
        Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(kernel === decl)
  }

  test("simhashNear: pigeonhole block index is complete vs naive all-pairs, incl. hamming-0 identicals") {
    import org.apache.spark.sql.functions._
    // 40 docs in 8 families of 5: family members share a 10-token base and
    // differ by 0-2 appended tokens, so distances cluster near 0 within a
    // family and large across families.
    val docs = (0 until 40).map { i =>
      val fam = i % 8
      val base = (1 to 10).map(j => s"f${fam}w$j").mkString(" ")
      val extra = (i / 8) match {
        case 0 => ""
        case 1 => "" // a verbatim duplicate of variant 0 -> hamming 0
        case k => s" extra${fam}_$k tail${fam}_${k % 2}"
      }
      (i.toLong, base + extra)
    }.toDF("doc_id", "text")

    val got = Dedup.simhashNear(docs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

    // naive baseline from the same public signature pieces
    val toks = graft.ext.TextStats.tokens(col("text"))
    val sigs = docs.select(col("doc_id") +: (0 until 4).map(s =>
      Dedup.simhash16FromHashes(Dedup.saltedTokenHashes(toks, s))
        .as(s"sig$s")): _*)
    val a = sigs.toDF("id_a", "a0", "a1", "a2", "a3")
    val b = sigs.toDF("id_b", "b0", "b1", "b2", "b3")
    val naive = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", (0 until 4).map(i =>
        bit_count(col(s"a$i").bitwiseXOR(col(s"b$i"))).cast("long"))
        .reduce(_ + _))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Long]("hamming")).toMap

    assert(got === naive)
    // the verbatim duplicates (i and i+8 for i in 0..7) must be hamming 0
    (0 until 8).foreach { fam =>
      assert(got((fam.toLong, (fam + 8).toLong)) === 0L)
    }
    intercept[IllegalArgumentException](Dedup.simhashNear(docs, 4))
  }

  test("dedupReport: planted exact dups and repeated segments count per source") {
    import spark.implicits._
    val seg = (1 to 8).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      ("a", "one two three"), ("a", "one two three"),   // 1 exact dup
      ("a", "unique text here"),
      ("b", s"$seg x"), ("b", s"$seg y")                // shared segment, no exact dup
    ).toDF("source", "text")
    val out = Dedup.dedupReport(docs, segLen = 8)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // a: 3 docs, 1 exact dup (3333 bp); 3 segments, 1 seg dup
    assert(out("a") === ((3L, 1L, 3333L, 3L, 1L, 3333L)))
    // b: 2 docs, 0 exact dups; 4 segments ("w1..w8" + tail each), 1 dup
    assert(out("b") === ((2L, 0L, 0L, 4L, 1L, 2500L)))
  }

  test("containmentJoin: prefix filter is complete vs naive; catches the quote Jaccard misses") {
    import org.apache.spark.sql.functions._
    val docs = (1L to 60L).map { i =>
      val base = (1 to (i % 9 + 3).toInt).map(j => s"w${(i + j) % 17}")
      (i, base.mkString(" "))
    } :+ (100L, "w1 w2 w3") :+                    // short probe...
      (101L, (1 to 40).map(j => s"w$j").mkString(" ")) // ...quoted in a long doc
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.containmentJoin(df, df, 9000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    // naive reference over distinct token sets
    val sets = docs.map { case (id, t) => id -> t.split(" ").distinct.toSet }.toMap
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b
      ov = (sa & sb).size
      if 10000L * ov >= 9000L * sa.size
    } yield (a, b) -> (10000L * ov / sa.size)).toMap
    assert(got === want)
    // the quote case: containment(100 -> 101) = 10000, Jaccard tiny
    assert(got((100L, 101L)) === 10000L)
    val jac = 10000L * (sets(100L) & sets(101L)).size /
      (sets(100L) | sets(101L)).size
    assert(jac < 1000L)
  }

  test("sourceOverlap: asymmetric containment with explicit zero rows") {
    import spark.implicits._
    val seg1 = (1 to 8).map(i => s"w$i").mkString(" ")
    val seg2 = (1 to 8).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      ("a", seg1),                       // a: 1 distinct segment
      ("b", s"$seg1 $seg2"),             // b: 2, shares seg1 with a
      ("c", "totally different words")   // c: 1, shares nothing
    ).toDF("source", "text")
    val out = Dedup.sourceOverlap(docs, segLen = 8)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(("a", "b")) === ((1L, 1L, 10000L))) // all of a is inside b
    assert(out(("b", "a")) === ((2L, 1L, 5000L)))  // half of b is inside a
    assert(out(("a", "c")) === ((1L, 0L, 0L)))     // explicit zero row
    assert(out.size === 6)                          // full ordered grid
  }

  test("boilerplateFilter: within-doc repetition does NOT reach the df threshold") {
    import spark.implicits._
    val seg = (1 to 8).map(i => s"w$i").mkString(" ")
    // the segment occurs 3x but only in 2 DISTINCT docs -> df = 2 < 3
    val docs = Seq((1L, s"$seg $seg"), (2L, seg))
      .toDF("doc_id", "text")
    val out = graft.ext.Dedup.boilerplateFilter(docs, segLen = 8, minDf = 3)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(1L) === s"$seg $seg") // all copies survive
    assert(out(2L) === seg)
  }

  test("sortedNeighborhood ≡ sequential window walk on randomized keys, across partition boundaries") {
    val rnd = new scala.util.Random(23L)
    // 400 rows over 4 shuffle partitions → every window of 3 crosses
    // range-partition boundaries many times; duplicate keys force the
    // id tie-break
    val rows = (1L to 400L).map(id =>
      (id, (0 until 3).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString))
    for (w <- Seq(1, 3, 8)) {
      val got = Dedup.sortedNeighborhood(
          rows.toDF("doc_id", "k"), $"k", w, idCol = "doc_id")
        .select("a_id", "b_id", "rank_dist")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val sorted = rows.sortBy { case (id, k) => (k, id) }
      val want = (for {
        i <- sorted.indices
        j <- (i + 1) to math.min(i + w, sorted.size - 1)
      } yield (sorted(i)._1, sorted(j)._1, (j - i).toLong)).toSet
      assert(got === want, s"w=$w")
    }
  }

  test("sortedNeighborhood plan: no Window operator, null keys fall out") {
    val df = Seq((1L, "a"), (2L, null), (3L, "b")).toDF("doc_id", "k")
    val out = Dedup.sortedNeighborhood(df, $"k", 2, idCol = "doc_id")
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      "global numbering must not use a Window")
    val pairs = out.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((1L, 3L))) // null-keyed row 2 excluded
  }
}

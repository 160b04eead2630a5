package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Similarity, TextStats}

class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.load(spark, sfDir, "embeddings").cache()

  test("cosine is 1.0 on identical vectors, symmetric, in [-1,1]") {
    val self = emb.select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .agg(min("c"), max("c")).collect()(0)
    assert(math.abs(self.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(self.getDouble(1) - 1.0) < 1e-9)
  }

  test("brute-force top-k returns k rows per query, ranked by cosine desc") {
    val out = Similarity.bruteForceTopK(emb.where(col("vec_id") < 5), emb, 3).collect()
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size === 5)
    byQ.values.foreach { rows =>
      assert(rows.length === 3)
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      val cosines = sorted.map(_.getAs[Long]("cos_q4"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH ANN achieves non-trivial recall@5 vs brute force with fewer candidates") {
    val queries = emb.where(col("vec_id") < 50)
    val exact = Similarity.bruteForceTopK(queries, emb, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val approx = Similarity.lshTopK(queries, emb, 5, nPlanes = 4).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // single-probe sign-LSH on random gaussian data: recall is modest by
    // design; the contract is "non-trivial recall at a fraction of the
    // comparisons" (16 buckets -> ~6% of pairs scored)
    assert(recall > 0.10, s"recall@5 was $recall")
  }

  test("IVF ANN with nProbe = nCells degrades to exact search (≡ brute force)") {
    val queries = emb.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"), r.getAs[Long]("n_id"))).toSet
    val full = Similarity.ivfTopK(queries, emb, 5, nCells = 16, nProbe = 16).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"), r.getAs[Long]("n_id"))).toSet
    assert(full === exact)
  }

  test("IVF ANN at nProbe=4/16 keeps non-trivial recall with a quarter of the corpus scored") {
    val queries = emb.where(col("vec_id") < 50)
    val exact = Similarity.bruteForceTopK(queries, emb, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val approx = Similarity.ivfTopK(queries, emb, 5, nCells = 16, nProbe = 4).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall > 0.25, s"recall@5 was $recall")
  }

  test("k-means centroids recover IVF recall on clustered data where first-k seeding fails") {
    import spark.implicits._
    // 4 orthogonal clusters in 64-dim: direction c is flat over coords
    // [16c, 16c+16) plus small seeded noise. Ids are arranged so the
    // first nCells vectors ALL sit in cluster 0 — the exact corpus shape
    // that makes ivfCentroids' first-k seeding pathological (every seed
    // from one cluster), which is what the k-means path exists to fix.
    val rnd = new scala.util.Random(7)
    val rows = (0L until 200L).map { id =>
      val cl = (id / 50).toInt
      val v = Array.tabulate(64) { i =>
        val base = if (i / 16 == cl) 0.25f else 0.0f
        base + (rnd.nextFloat() - 0.5f) * 0.05f
      }
      (id, v)
    }
    val all = rows.toDF("vec_id", "embedding")
    val queries = all.where(col("vec_id").isin(0L, 50L, 100L, 150L))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, all, 5))
    val seeded = pairs(Similarity.ivfTopK(queries, all, 5, nCells = 4, nProbe = 1))
    var registered = -1
    val km = graft.ext.CacheScope.withCacheScope { scope =>
      val c = Similarity.ivfCentroidsKmeans(all, 4, iters = 3)
      registered = scope.registered.size
      c
    }
    // the scan frame is the loop's own barrier, freed on return: nothing
    // is left for the caller's scope to release
    assert(registered === 0)
    val refined = pairs(Similarity.ivfTopK(queries, all, 5, nCells = 4, nProbe = 1,
      centroids = Some(km)))
    val seededRecall = (exact & seeded).size.toDouble / exact.size
    val kmRecall = (exact & refined).size.toDouble / exact.size
    // farthest-first seeding lands one centroid per orthogonal cluster,
    // so each query's single probed cell holds its whole cluster
    assert(kmRecall >= 0.9, s"k-means recall was $kmRecall")
    assert(kmRecall > seededRecall,
      s"k-means ($kmRecall) should beat degenerate first-k seeding ($seededRecall)")
  }

  test("k-means on a zero-row corpus seeds no cell, and IVF over the empty " +
      "index finds nothing") {
    import spark.implicits._
    val none = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    Seq("parallel", "farthest").foreach { seeding =>
      val cents = Similarity.ivfCentroidsKmeans(none, nCells = 4, iters = 2,
        seeding = seeding)
      assert(cents.isEmpty, seeding)
      val hits = Similarity.ivfTopK(none, none, 5, nProbe = 2,
        centroids = Some(cents))
      assert(hits.columns.toSeq === Seq("q_id", "n_id", "rank", "cos_q4"))
      assert(hits.isEmpty, seeding)
    }
  }

  test("parallel k-means seeding: job count independent of nCells, deterministic") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    def jobsFor(f: => Unit): Int = {
      spark.sparkContext.addSparkListener(listener)
      try {
        counter.set(0)
        f
        // listener delivery is async — poll until the count is stable
        var last = -1; var stable = 0
        while (stable < 3) {
          Thread.sleep(100)
          val c = counter.get()
          if (c == last) stable += 1 else { stable = 0; last = c }
        }
        last
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val j8 = jobsFor { Similarity.ivfCentroidsKmeans(emb, 8, iters = 0) }
    val j32 = jobsFor { Similarity.ivfCentroidsKmeans(emb, 32, iters = 0) }
    // the old farthest-first loop was O(nCells) scans — 8 vs 32 cells
    // would differ by 24 jobs. Oversampled seeding: rounds+2 scans flat.
    assert(j8 === j32, s"seeding job count must not grow with nCells ($j8 vs $j32)")
    assert(j32 <= 8, s"seeding ran $j32 jobs; expected rounds+2=5 (+persist slack)")
    // hash-based sampling => bit-identical reruns
    val a = Similarity.ivfCentroidsKmeans(emb, 16, iters = 0)
    val b = Similarity.ivfCentroidsKmeans(emb, 16, iters = 0)
    assert(a.length === 16)
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) })
  }

  test("int8 quantization: codes in range, reconstruction within one step, recall survives") {
    val q = Similarity.quantizeInt8(emb).cache()
    val checked = q.select(col("embedding"), col("codes"), col("scale"))
      .limit(50).collect()
    checked.foreach { r =>
      val xs = r.getSeq[Float](0)
      val cs = r.getSeq[Int](1)
      val s = r.getDouble(2)
      assert(cs.forall(c => c >= -127 && c <= 127))
      xs.zip(cs).foreach { case (x, c) =>
        assert(math.abs(x.toDouble - c * s) <= s + 1e-12,
          s"reconstruction off by more than one step: x=$x c=$c scale=$s")
      }
    }
    // searching the dequantized corpus must preserve the neighborhood
    val deq = q.select(col("vec_id"),
      transform(col("codes"), c => c.cast("double") * col("scale")).as("embedding"))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb.where(col("vec_id") < 20), emb, 5))
    val viaInt8 = pairs(Similarity.bruteForceTopK(
      deq.where(col("vec_id") < 20), deq, 5))
    val recall = (exact & viaInt8).size.toDouble / exact.size
    assert(recall >= 0.8, s"int8 recall@5 was $recall")
    q.unpersist()
  }

  test("LSH-bucketed embedding near-dup: subset of brute-force truth with useful recall") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // ground truth: all-pairs cosine >= 0.3 regardless of label/bucket
    val e = emb.select(col("vec_id"), col("embedding"))
    val truth = pairSet(e.toDF("id_a", "vec_a")
      .join(e.toDF("id_b", "vec_b"), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.ext.Similarity.floorQ4(
          graft.ext.Similarity.cosine(col("vec_a"), col("vec_b"))).as("q"))
      .where(col("q") >= 3000))
    val lsh = pairSet(graft.ext.Similarity.cosineNearDupLsh(emb, 0.3))
    assert(lsh.subsetOf(truth))          // verify step never admits a false pair
    val recall = (lsh & truth).size.toDouble / truth.size.max(1)
    // theory: one 4-bit table catches (1−θ/π)⁴ ≈ 13 % at the 0.3 decision
    // boundary; 8 OR-ed tables lift pairs near the boundary to ~67 %
    assert(recall >= 0.5, s"recall $recall with 8 tables x 4 bits")
    // hot-bucket cap: a cap of 1 drops every bucket with >= 2 members,
    // so no candidate pair survives — proves the guard prunes pre-join
    val capped = pairSet(graft.ext.Similarity.cosineNearDupLsh(
      emb, 0.3, maxBucket = 1))
    assert(capped.isEmpty)
  }

  test("minhash LSH candidates are a superset of high-jaccard pairs (docs)") {
    val docs = Tables.load(spark, sfDir, "documents")
    val cands = Dedup.lshCandidates(Dedup.withMinhashBands(docs)).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // pairs with very high true shingle-jaccard should collide in >=1 band
    val sets = docs.select(col("doc_id"),
      array_distinct(Dedup.shingles(TextStats.tokens(col("text")))).as("ss"))
    val a = sets.toDF("id_a", "ss_a")
    val b = sets.toDF("id_b", "ss_b")
    val hot = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), Dedup.jaccard(col("ss_a"), col("ss_b")).as("j"))
      .where(col("j") >= 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    if (hot.nonEmpty) {
      val caught = (hot & cands).size.toDouble / hot.size
      assert(caught >= 0.9, s"LSH caught only $caught of near-identical pairs")
    }
  }

  test("simhash: identical texts get identical hashes; hash fits 16 bits") {
    val docs = Tables.load(spark, sfDir, "documents")
    val h = docs.select(Dedup.simhash16FromHashes(Dedup.tokenHashes(TextStats.tokens(col("text")))).as("h"))
      .agg(min("h"), max("h")).collect()(0)
    assert(h.getLong(0) >= 0L && h.getLong(1) < (1L << 16))
    import spark.implicits._
    val two = Seq(("a b c d e f", 1), ("a b c d e f", 2)).toDF("text", "i")
      .select(Dedup.simhash16FromHashes(Dedup.tokenHashes(TextStats.tokens(col("text")))).as("h"))
      .distinct().count()
    assert(two === 1)
  }

  test("centroidPrune: planted far outlier pruned, exact integer distance, zero-vector excluded") {
    import spark.implicits._
    val rows = Seq(
      // label 0: 9 tight vectors + one far outlier (vec 10)
      (1L to 9L).map(i => (i, Array(1.0f, 1.0f, 0f, 0f), 0)),
      Seq((10L, Array(50.0f, -50.0f, 0f, 0f), 0)),
      // label 1: 4 tight, one zero vector (excluded entirely)
      (11L to 14L).map(i => (i, Array(-1.0f, 2.0f, 0f, 0f), 1)),
      Seq((15L, Array(0f, 0f, 0f, 0f), 1))
    ).flatten.toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidPrune(rows, pruneBp = 1000, dim = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(!out.contains(15L))                   // zero vector excluded
    assert(out(10L)._2)                          // the outlier is pruned
    assert((1L to 9L).forall(i => !out(i)._2))   // 10% of 10 = exactly 1
    assert((11L to 14L).count(i => out(i)._2) === 0) // 10% of 4 -> none
    // exact distance: label 1 identical vectors -> d2n2 = 0
    assert((11L to 14L).forall(i => out(i)._1 === 0L))
    // label 0 tight members: v=q(1,1)= (1000,1000); s=(9*1000+50000, 9*1000-50000)
    val s = Seq(9000L + 50000L, 9000L - 50000L)
    val n = 10L
    val vv = 1000L * 1000L * 2
    val vs = 1000L * s(0) + 1000L * s(1)
    val ss = s(0) * s(0) + s(1) * s(1)
    assert(out(1L)._1 === vv * n * n - 2 * n * vs + ss)
  }

  test("rrfFuse: exact integer scores, consensus outranks single-list wins, missing docs contribute nothing") {
    import spark.implicits._
    val r1 = Seq((1L, 100L, 1), (1L, 101L, 2), (1L, 102L, 3))
      .toDF("q_id", "n_id", "rank")
    val r2 = Seq((1L, 101L, 1), (1L, 103L, 2), (1L, 100L, 3))
      .toDF("q_id", "n_id", "rank")
    val out = Similarity.rrfFuse(Seq(r1, r2), k = 4)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getInt(3)))).toMap
    // 100: 10^8/61 + 10^8/63 = 1639344 + 1587301 = 3226645
    // 101: 10^8/62 + 10^8/61 = 1612903 + 1639344 = 3252247
    // 102: 10^8/63 = 1587301 ; 103: 10^8/62 = 1612903
    assert(out(101L) === ((3252247L, 1))) // in both lists → wins
    assert(out(100L) === ((3226645L, 2)))
    assert(out(103L) === ((1612903L, 3)))
    assert(out(102L) === ((1587301L, 4)))
  }

  test("recallAtK: self-recall is 10000, partial overlap exact, missed query scores 0") {
    import spark.implicits._
    val exact = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L),
      (2L, 20L), (2L, 21L), (2L, 22L), (2L, 23L),
      (3L, 30L), (3L, 31L), (3L, 32L), (3L, 33L)
    ).toDF("q_id", "n_id")
    // q1: full overlap; q2: 1 of 4 (2500 bp); q3: the index returned nothing
    val approx = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L),
      (2L, 20L), (2L, 99L), (2L, 98L), (2L, 97L)
    ).toDF("q_id", "n_id")
    val out = Similarity.recallAtK(approx, exact, 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) === ((4L, 10000L)))
    assert(out(2L) === ((1L, 2500L)))
    assert(out(3L) === ((0L, 0L)))
    // extra approx neighbors the truth lacks never inflate recall
    assert(Similarity.recallAtK(exact, exact, 4).collect()
      .forall(_.getLong(2) === 10000L))
  }

  test("contrastiveTriplets: positives = cosineNearDup, negatives other-label from the anchor's bucket, deterministic") {
    val t = Similarity.contrastiveTriplets(emb, 0.3, nBuckets = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getLong(4)))
    assert(t.nonEmpty)
    // positives agree with cosineNearDup for every anchored pair
    val pos = Similarity.cosineNearDup(emb, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    t.foreach { case (a, p, _, _, c) => assert(pos((a, p)) === c) }
    val labels = emb.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(h, 16) % 16
    }
    t.foreach { case (a, _, n, lbl, _) =>
      assert(labels(a) === lbl)
      assert(labels(n) !== lbl)          // negative is another label
      assert(bucket(n) === bucket(a))    // drawn from the anchor's bucket
    }
    // bit-identical on rerun
    val t2 = Similarity.contrastiveTriplets(emb, 0.3, nBuckets = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getLong(4)))
    assert(t.sortBy(x => (x._1, x._2)).toSeq === t2.sortBy(x => (x._1, x._2)).toSeq)
  }

  test("cosineNearDup: per-vector norms score every pair as floorQ4(cosine); zero-norm vectors never pair") {
    import spark.implicits._
    val got = Similarity.cosineNearDup(emb, -1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val e = emb.where(Similarity.dot($"embedding", $"embedding") > 0)
    val want = e.select($"vec_id".as("id_a"), $"label", $"embedding".as("vec_a"))
      .join(e.select($"vec_id".as("id_b"), $"label", $"embedding".as("vec_b")),
        Seq("label"))
      .where($"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        Similarity.floorQ4(Similarity.cosine($"vec_a", $"vec_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(want.nonEmpty)
    assert(got === want)
    val small = Seq((1L, 7, Array(1.0f, 0.0f)), (2L, 7, Array(1.0f, 0.5f)),
        (3L, 7, Array(0.0f, 0.0f))).toDF("vec_id", "label", "embedding")
    val pairs = Similarity.cosineNearDup(small, -1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("randomProject: exact integer components against the sign matrix, narrow plan") {
    import spark.implicits._
    val emb = Seq((1L, Array(0.5f, -1.25f)), (2L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val proj = Similarity.randomProject(emb, outDim = 4, inDim = 2)
    val out = proj.orderBy("vec_id").collect()
    val mat = Similarity.signMatrix(4, 2)
    // q6 terms: floor(0.5e6) = 500000, floor(-1.25e6) = -1250000
    val exp1 = mat.map(r => r(0) * 500000L + r(1) * -1250000L).mkString(",")
    assert(out(0).getString(1) === exp1)
    assert(out(1).getString(1) === "0,0,0,0")
    val plan = proj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan) // projecting is a scan
  }

  test("randomProject: JL sketch preserves cosine neighborhoods usefully at 64->16") {
    // clustered corpus: 3 well-separated centers, the projected space
    // must keep same-cluster vectors closer than cross-cluster ones
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(3, 64)(rnd.nextGaussian() * 5.0)
    val vecs = (0 until 60).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.3).toFloat))
    }
    val emb = vecs.toSeq.toDF("vec_id", "embedding")
    val proj = Similarity.randomProject(emb, outDim = 16, inDim = 64)
      .collect().map(r => r.getLong(0) ->
        r.getString(1).split(",").map(_.toDouble)).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // nearest projected neighbor of every vector is in its own cluster
    val errs = vecs.map(_._1).count { i =>
      val nn = vecs.map(_._1).filter(_ != i)
        .minBy(j => d2(proj(i), proj(j)))
      nn % 3 != i % 3
    }
    assert(errs === 0, s"$errs of 60 projected nearest neighbors crossed clusters")
  }

  test("productQuantize: seed vectors get zero error; codes stay in range") {
    import spark.implicits._
    val out = Similarity.productQuantize(emb)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Int](1), r.getLong(2))).sortBy(_._1)
    assert(out.nonEmpty)
    out.foreach { case (id, codes, dist) =>
      assert(codes.length === 4 && codes.forall(c => c >= 0 && c < 16), s"id $id")
      assert(dist >= 0L, s"id $id")
    }
    // the codebook IS the first 16 vectors by id: they quantize to
    // themselves (or an identical entry) with exactly zero error
    out.take(16).foreach { case (id, _, dist) =>
      assert(dist === 0L, s"seed vector $id must have zero quantization error")
    }
    // and somebody outside the seed set has nonzero error, or the
    // fixture would prove nothing
    assert(out.drop(16).exists(_._3 > 0L))
  }

  test("productQuantize: argmin ties break to the LOWEST code index") {
    import spark.implicits._
    // vectors 0 and 1 are IDENTICAL -> codebook entries 0 and 1 are
    // duplicates; every assignment that hits them must pick code 0
    val base = Array.fill(8)(1.0f)
    val emb2 = Seq(
      (0L, base), (1L, base),
      (2L, base.map(_ * 1.001f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.productQuantize(emb2, m = 2, codebookSize = 2, dim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(out(0L) === Seq(0, 0))
    assert(out(1L) === Seq(0, 0))
    assert(out(2L) === Seq(0, 0))
  }

  test("productQuantize on a zero-row corpus seeds empty codebooks and codes nothing") {
    import spark.implicits._
    val none = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val cbs = Similarity.pqCodebooks(none)
    assert(cbs.length === 4 && cbs.forall(_.isEmpty))
    val codes = Similarity.productQuantize(none)
    assert(codes.columns.toSeq === Seq("vec_id", "codes", "dist"))
    assert(codes.schema("codes").dataType.simpleString === "array<int>")
    assert(codes.schema("dist").dataType.simpleString === "bigint")
    assert(codes.isEmpty)
  }

  test("clusterQuality: hand-computed cohesion/separation on 2-D clusters") {
    import spark.implicits._
    // 0.25 is float-exact (0.2f would floor to -201 via its double
    // widening). A: (1,0),(1,0.25) → shifted q3 (2000,1000),(2000,1250),
    // centroid (2000,1125), d² = 125² = 15625 each → msd 15625.
    // B mirrored. Centroid distance 2000² + 250² = 4 062 500.
    // db = 10000·(15625+15625)//4062500 = 76 for both.
    val emb = Seq(
      (1L, "A", Array(1.0f, 0.0f)), (2L, "A", Array(1.0f, 0.25f)),
      (3L, "B", Array(-1.0f, 0.0f)), (4L, "B", Array(-1.0f, -0.25f)))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.clusterQuality(emb, dim = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(out("A") === ((2L, 15625L, "B", 4062500L, 76L)))
    assert(out("B") === ((2L, 15625L, "A", 4062500L, 76L)))
  }

  test("clusterQuality: identical centroids yield null db_bp, not a crash") {
    import spark.implicits._
    val emb = Seq(
      (1L, "A", Array(1.0f, 1.0f)), (2L, "B", Array(1.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val rows = Similarity.clusterQuality(emb, dim = 2).collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getLong(4) === 0L)   // nn_d2_q6
      assert(r.isNullAt(5))         // db_bp guarded
    }
  }

  test("clusterQuality: zero-norm vectors are excluded before the centroid") {
    import spark.implicits._
    val emb = Seq(
      (1L, "A", Array(1.0f, 0.0f)), (2L, "A", Array(0.0f, 0.0f)),
      (3L, "B", Array(-1.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.clusterQuality(emb, dim = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("A" -> 1L, "B" -> 1L))
  }

  test("topComponent recovers a planted dominant direction, sign-pinned") {
    import spark.implicits._
    val rnd = new scala.util.Random(79)
    // variance concentrated on axis 2: the component must align with it
    val vecs = (0 until 60).map { i =>
      val main = (if (i % 2 == 0) 1f else -1f) * (3f + rnd.nextFloat())
      (i.toLong, Array(rnd.nextFloat() * 0.1f, main,
        rnd.nextFloat() * 0.1f, rnd.nextFloat() * 0.1f))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val out = Similarity.topComponent(emb, dim = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(2L) === 10000L, s"dominant axis not pinned positive: $out")
    Seq(1L, 3L, 4L).foreach(d =>
      assert(math.abs(out(d)) < 2000L, s"axis $d too large: $out"))
    // eigenvector sign ambiguity: negating every input yields the SAME
    // output under the sign convention
    val neg = vecs.map { case (id, v) => (id, v.map(-_)) }
      .toDF("vec_id", "embedding")
    val out2 = Similarity.topComponent(neg, dim = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 === out)
  }

  test("anisotropy: a one-direction space scores near 10000, an isotropic " +
      "one near 10000/d") {
    import spark.implicits._
    val rnd = new scala.util.Random(83)
    val collapsed = (0 until 50).map { i =>
      val m = (if (i % 2 == 0) 1f else -1f) * (2f + rnd.nextFloat())
      (i.toLong, Array(m, m * 0.98f, m * 1.02f, m * 0.99f))
    }.toDF("vec_id", "embedding")
    val cShare = Similarity.anisotropy(collapsed, dim = 4)
      .head.getLong(2)
    assert(cShare > 9000L, s"collapsed share $cShare")
    val iso = (0 until 400).map { i =>
      (i.toLong, Array.tabulate(4)(d =>
        (if ((i >> d) % 2 == 0) 1f else -1f) + rnd.nextFloat() * 0.01f))
    }.toDF("vec_id", "embedding")
    val iShare = Similarity.anisotropy(iso, dim = 4).head.getLong(2)
    assert(iShare < 4000L, s"isotropic share $iShare")
  }

  test("multi-probe LSH: recall >= single-probe, candidates deduplicated") {
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    val centers = Array.fill(6, 64)(rnd.nextGaussian() * 3.0)
    val vecs = (0 until 120).map { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.5).toFloat))
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val q = corpus.where($"vec_id" < 8)
    val bf = Similarity.bruteForceTopK(q, corpus, 5)
    def totalRecall(approx: org.apache.spark.sql.DataFrame): Long =
      Similarity.recallAtK(approx, bf, 5)
        .agg(org.apache.spark.sql.functions.sum($"hits")).head.getLong(0)
    val single = totalRecall(Similarity.lshTopK(q, corpus, 5, nPlanes = 6))
    val multi = totalRecall(
      Similarity.lshTopKMultiProbe(q, corpus, 5, nPlanes = 6))
    assert(multi >= single, s"multi=$multi < single=$single")
    // no duplicate (q, n) candidate rows survive to the ranking
    val mp = Similarity.lshTopKMultiProbe(q, corpus, 5, nPlanes = 6)
      .select($"q_id", $"n_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mp.distinct.length === mp.length)
  }

  private def mutual(pairs: Seq[(Long, Long, Long)], k: Int) = {
    import spark.implicits._
    Similarity.mutualKnn(pairs.toDF("id_a", "id_b", "cos_q4"), k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
  }

  test("mutualKnn: a one-way neighbor edge is dropped (hub resistance)") {
    // k=1: node 3's best is 1, but 1's best is 2 (and vice versa) —
    // only the reciprocal (1,2) survives
    val out = mutual(Seq((1L, 2L, 9000L), (1L, 3L, 8000L), (2L, 3L, 5000L)), k = 1)
    assert(out === Map((1L, 2L) -> (9000L, 1L, 1L)))
  }

  test("mutualKnn: rank columns are per-endpoint and may differ") {
    // node 1 ranks 2 first; node 2 ranks 3 first and 1 second
    val out = mutual(Seq((1L, 2L, 9000L), (1L, 3L, 1000L), (2L, 3L, 9500L)), k = 2)
    assert(out((1L, 2L)) === ((9000L, 1L, 2L)))
    assert(out((2L, 3L)) === ((9500L, 1L, 1L)))
    assert(out((1L, 3L)) === ((1000L, 2L, 2L)))
  }

  test("mutualKnn: ties in cos_q4 break by neighbor id on BOTH endpoints") {
    // node 1 sees 2 and 3 at the same score: 2 outranks 3 by id
    val out = mutual(Seq((1L, 2L, 7000L), (1L, 3L, 7000L), (2L, 3L, 7000L)), k = 1)
    assert(out.keySet === Set((1L, 2L)))
  }

  test("mutualKnn parity with a sequential reference on random pairs") {
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val pairs = (1 to 150).map { _ =>
        val a = rnd.nextInt(25).toLong
        val b = rnd.nextInt(25).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
        .map { case (a, b) => (a, b, rnd.nextInt(10000).toLong) }
      val k = 3
      val got = mutual(pairs, k).keySet
      // reference: per-node sorted neighbor list, reciprocal top-k
      val sym = pairs.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
      val topk = sym.groupBy(_._1).map { case (n, es) =>
        n -> es.sortBy(e => (-e._3, e._2)).take(k).map(_._2).toSet
      }
      val want = pairs.collect {
        case (a, b, _) if topk(a).contains(b) && topk(b).contains(a) => (a, b)
      }.toSet
      assert(got === want, s"trial $trial")
    }
  }

  test("knnLabelEval ≡ per-bucket brute-force replay on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 4; val k = 3; val nPlanes = 2
    val vecs = (1L to 40L).map { i =>
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val label = if (v(0) >= 0) "pos" else "neg"
      (i, label, v.toSeq)
    }
    val emb = vecs.toDF("vec_id", "label", "embedding")
    val got = Similarity.knnLabelEval(emb, k = k, nPlanes = nPlanes,
        dim = dim)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap

    // test-side sequential replay
    val planes = Similarity.hyperplanes(dim, nPlanes)
    def dotp(a: Seq[Float], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    def cosq4(a: Seq[Float], b: Seq[Float]) = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      math.floor(d / (na * nb) * 10000).toLong
    }
    val withBucket = vecs.map { case (id, l, v) =>
      val b = planes.zipWithIndex.map { case (p, i) =>
        if (dotp(v, p.toSeq) > 0) 1L << i else 0L }.sum
      (id, l, v, b)
    }
    val want = withBucket.groupBy(_._2).map { case (label, members) =>
      val correct = members.count { case (id, l, v, b) =>
        val neigh = withBucket
          .filter(o => o._4 == b && o._1 != id)
          .map(o => (cosq4(v, o._3), o._1, o._2))
          .sortBy(t => (-t._1, t._2)).take(k)
        if (neigh.isEmpty) false
        else {
          val pred = neigh.groupBy(_._3).toSeq
            .map { case (l2, g) => (g.size.toLong, l2) }.max._2
          pred == l
        }
      }
      label -> ((members.size.toLong, correct.toLong))
    }
    assert(got === want)
  }

  test("labelPurity: exact majority share; label ties break toward the " +
      "larger label") {
    import spark.implicits._
    val assign = Seq(
      (1L, "a"), (1L, "a"), (1L, "b"),   // majority a, 2/3
      (2L, "a"), (2L, "b"),              // tie -> larger label b
      (3L, "z")                          // singleton, pure
    ).toDF("cluster", "label")
    val out = Similarity.labelPurity(assign).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) === ((3L, "a", 2L, 6666L)))
    assert(out(2L) === ((2L, "b", 1L, 5000L)))
    assert(out(3L) === ((1L, "z", 1L, 10000L)))
  }

  test("pairEval: hand-computed pairwise precision/recall/F1, empty-prediction edge") {
    import spark.implicits._
    val labeled = Seq((1L, 0), (2L, 0), (3L, 1), (4L, 0))
      .toDF("vec_id", "label")
    // predicted: (1,2) same-label TP, (1,3) cross-label FP;
    // truth = C(3,2) same-label pairs of label 0 = 3
    val pred = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val r = Similarity.pairEval(pred, labeled).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((2L, 3L, 1L)))
    assert(r.getLong(3) === 5000L) // precision
    assert(r.getLong(4) === 3333L) // recall
    assert(r.getLong(5) === 3999L) // 2·5000·3333 div 8333
    val empty = Similarity.pairEval(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), labeled).collect().head
    assert((empty.getLong(0), empty.getLong(2), empty.getLong(3),
      empty.getLong(4), empty.getLong(5)) === ((0L, 0L, 0L, 0L, 0L)))
    assert(empty.getLong(1) === 3L) // truth count independent of predictions
  }

  test("ndcgAtK: hand-computed hits, short relevance universe, zero-rel query") {
    import spark.implicits._
    val weights = Seq(100L, 63L, 50L)
    // q1: hits at ranks 1 and 3, 5 relevant total -> ideal = 213, dcg = 150
    // q2: hit at rank 2 only, n_rel = 2 < k -> ideal = 163, dcg = 63
    // q3: no relevant docs at all -> ndcg 0, n_rel 0
    val ranked = Seq(
      (1L, 11L, 1), (1L, 12L, 2), (1L, 13L, 3),
      (2L, 21L, 1), (2L, 22L, 2), (2L, 23L, 3),
      (3L, 31L, 1), (3L, 32L, 2), (3L, 33L, 3)
    ).toDF("q_id", "n_id", "rank")
    val rel = (Seq((1L, 11L), (1L, 13L), (1L, 91L), (1L, 92L), (1L, 93L)) ++
      Seq((2L, 22L), (2L, 94L))).toDF("q_id", "n_id")
    val out = Similarity.ndcgAtK(ranked, rel, 3, weights)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((5L, 150L, 10000L * 150L / 213L))) // 7042
    assert(out(2L) === ((2L, 63L, 10000L * 63L / 163L)))   // 3865
    assert(out(3L) === ((0L, 0L, 0L)))
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{Contamination, Dedup, Retrieval, Sampling, Similarity, TextStats, Vocab}
import graft.ops._

/** Every iterative operator, and every operator that spreads a narrow
  * input to the task slots, gives the same answer whatever the physical
  * layout: identical collected rows at `spark.sql.shuffle.partitions`
  * ∈ {1, 7, 64} × AQE on/off. A result that leaned on tie order,
  * partition-local order or float summation order would split here. */
class LoopInvarianceSpec extends SparkSpec {
  import spark.implicits._

  private val layouts = for (w <- Seq(1, 7, 64); aqe <- Seq(true, false))
    yield (w, aqe)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Runs `build` under every layout and asserts one answer. */
  private def invariant(name: String)(build: => Seq[DataFrame]): Unit = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.get(k))
    val outs = try layouts.map { case (w, aqe) =>
      spark.conf.set(keys(0), w.toString)
      spark.conf.set(keys(1), aqe.toString)
      (w, aqe) -> build.map(rows)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    val (ref, first) = (outs.head._2, outs.head._1)
    assert(ref.exists(_.nonEmpty), s"$name: empty answer proves nothing")
    outs.tail.foreach { case (layout, got) =>
      assert(got === ref, s"$name: layout $layout differs from $first")
    }
  }

  // a seeded random graph with hubs, chains and several components
  private val rnd = new scala.util.Random(101)
  private val pairs: Seq[(Long, Long)] = {
    val rand = (1 to 70).map(_ => (rnd.nextInt(36).toLong, rnd.nextInt(36).toLong))
    val chain = (40L until 48L).map(i => (i, i + 1))
    (rand ++ chain).filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
  }
  private val weight: Map[(Long, Long), Long] =
    pairs.map(p => p -> (1L + (p._1 * 7 + p._2 * 3) % 9)).toMap
  private def sym = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
  private def symW = (pairs ++ pairs.map(_.swap))
    .map(p => (p._1, p._2, weight((math.min(p._1, p._2), math.max(p._1, p._2)))))
    .toDF("src", "dst", "w")
  private def nodes = (0L until 50L).toDF("id")
  private def seeds = Seq(3L, 40L).toDF("id")

  test("PageRank, PPR and LabelProp are layout-invariant") {
    invariant("PageRank")(Seq(PageRank.run(sym, nodes, iterations = 4)))
    invariant("PersonalizedPageRank")(
      Seq(PersonalizedPageRank.run(symW, seeds, iterations = 3)))
    invariant("LabelProp")(Seq(LabelProp.run(sym, nodes, iterations = 3)))
  }

  test("KCore and Hits are layout-invariant") {
    invariant("KCore distributed")(
      Seq(KCore.run(sym, k = 3, localFinishEdges = 0L)))
    invariant("KCore local finish")(Seq(KCore.run(sym, k = 3)))
    invariant("Hits") {
      val (h, a) = Hits.run(pairs.toDF("hub", "auth"), iterations = 3)
      Seq(h, a)
    }
  }

  test("Bfs, harmonic and Sssp are layout-invariant") {
    invariant("Bfs.run")(Seq(Bfs.run(sym, seeds, maxHops = 4)))
    invariant("Bfs.harmonic")(Seq(Bfs.harmonic(sym, maxHops = 3)))
    invariant("Sssp")(Seq(Sssp.run(symW, seeds)))
  }

  test("Msf and KTruss run/decompose are layout-invariant") {
    invariant("Msf")(Seq(Msf.run(
      pairs.map(p => (p._1, p._2, weight(p))).toDF("a", "b", "w"))))
    invariant("KTruss.run")(Seq(KTruss.run(sym, k = 3)))
    invariant("KTruss.decompose")(Seq(KTruss.decompose(sym, maxK = 5)))
  }

  test("resolveComponents is layout-invariant") {
    val docs = (0L until 50L).toDF("doc_id")
    val pairDf = pairs.toDF("id_a", "id_b")
    invariant("resolveComponents distributed")(Seq(
      Dedup.resolveComponents(docs, pairDf, localFinishEdges = 0L)))
    invariant("resolveComponents local finish")(Seq(
      Dedup.resolveComponents(docs, pairDf)))
  }

  test("rakeWeights and topComponent are layout-invariant") {
    val rows = (1 to 300).map(i =>
      (Seq("en", "de", "fr")(i % 3), Seq("web", "code", "books", "wiki")(i * 7 % 4)))
      .filter { case (l, s) => !(l == "fr" && s == "code") }
      .toDF("lang", "source")
    invariant("rakeWeights")(Seq(Sampling.rakeWeights(rows, rounds = 3)))
    val r = new scala.util.Random(7)
    val emb = (0 until 40).map(i => (i.toLong,
        Array.fill(4)(r.nextFloat() - 0.5f).updated(1, (i % 5).toFloat)))
      .toDF("vec_id", "embedding")
    invariant("topComponent")(Seq(Similarity.topComponent(emb, dim = 4)))
  }

  test("bpeMerges and stationaryDistribution are layout-invariant") {
    val words = Seq("low", "lower", "lowest", "new", "newer", "wide", "wider",
      "aaaa", "banana", "bandana")
    val docs = (1 to 60).map(i => (i.toLong,
        (0 until 5).map(j => words((i * 7 + j * 3) % words.size)).mkString(" ")))
      .toDF("doc_id", "text")
    invariant("bpeMerges")(Seq(Vocab.bpeMerges(docs, rounds = 8)))
    val types = Seq("view", "cart", "view", "buy", "search", "view")
    val events = (0 until 240).map { i =>
      (i % 17L, new java.sql.Timestamp(1700000000000L + i * 60000L),
        types((i * 5 + i / 17) % types.size), i.toLong)
    }.toDF("user_id", "ts", "event_type", "event_id")
    invariant("stationaryDistribution")(
      Seq(Journeys.stationaryDistribution(events, iters = 4)))
  }

  test("kCenterCoreset and exact k-means seeding are layout-invariant") {
    val r = new scala.util.Random(23)
    val emb = (0 until 60).map(i => (i.toLong,
        Array.fill(6)(r.nextFloat() - 0.5f).updated(i % 6, 1.0f)))
      .toDF("vec_id", "embedding")
    invariant("kCenterCoreset")(Seq(Sampling.kCenterCoreset(emb, k = 5)))
    // farthest-first at iters = 0 is exact; Lloyd means sum doubles in
    // partition order, so they are not part of this contract
    invariant("ivfCentroidsKmeans farthest") {
      val cents = Similarity.ivfCentroidsKmeans(emb, nCells = 5, iters = 0,
        seeding = "farthest")
      Seq(cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.mkString(",")) }
        .toDF("cell", "centroid"))
    }
  }

  test("the spread document operators are layout-invariant") {
    // sf0.001 documents is one scan partition, so every operator spreads
    def docs = Tables.load(spark, sfDir, "documents")
    invariant("TextStats.analyze")(Seq(TextStats.analyze(docs)))
    invariant("TextStats.filterCorpus")(Seq(TextStats.filterCorpus(docs)))
    invariant("TextStats.skipgrams")(Seq(TextStats.skipgrams(docs, window = 3, k = 20)))
    invariant("Dedup.containmentJoin")(Seq(
      Dedup.containmentJoin(docs.where($"doc_id" % 100 === 1), docs, 9000)))
    invariant("Contamination.overlaps")(Seq(
      Contamination.overlaps(docs, docs.where($"doc_id" % 101 === 0), minShared = 3)))
    invariant("Retrieval.phraseSearch")(Seq(Retrieval.phraseSearch(docs,
      docs.where($"doc_id" % 100 === 1).select($"doc_id".as("phrase_id"),
        array_join(slice(TextStats.tokens($"text"), 1, 3), " ").as("phrase")))))
  }
}

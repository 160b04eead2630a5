package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Sampling, Similarity}
import graft.ops._
import graft.streaming.StreamingIngest

/** Every iterative operator gives the same answer whatever the physical
  * layout: identical collected rows at `spark.sql.shuffle.partitions`
  * ∈ {1, 7, 64} × AQE on/off. A loop whose result leaned on tie order,
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

  test("resolveComponents and sequentialGreedy are layout-invariant") {
    val docs = (0L until 50L).toDF("doc_id")
    val pairDf = pairs.toDF("id_a", "id_b")
    invariant("resolveComponents distributed")(Seq(
      Dedup.resolveComponents(docs, pairDf, localFinishEdges = 0L)))
    invariant("resolveComponents local finish")(Seq(
      Dedup.resolveComponents(docs, pairDf)))
    invariant("sequentialGreedy")(Seq(StreamingIngest.sequentialGreedy(
      Seq((5L, -5L), (17L, -17L)).toDF("_nid", "dup_of"),
      pairs.toDF("_oid", "_nid"), (0L until 50L).toDF("_nid"))))
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
}

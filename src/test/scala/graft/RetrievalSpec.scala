package graft

import org.apache.spark.sql.functions._

import graft.ext.{Frequency, Retrieval, Vocab}

/** Retrieval / vocab-encode / winsorize properties the oracle gate can't
  * isolate: posting-cap behavior, BM25 ranking sanity, OOV handling,
  * and clip-flag correctness. */
class RetrievalSpec extends SparkSpec {

  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("invertedIndex: exact df/total_tf, postings capped and ordered") {
    val d = docs(
      1L -> "a a b",
      2L -> "a c",
      3L -> "a a a",
      4L -> "b")
    val idx = Retrieval.invertedIndex(d, maxPostings = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // term a: df=3, total=6; cap 2 keeps tf-desc (doc3 tf=3, doc1 tf=2)
    assert(idx("a") === ((3L, 6L, "3:3,1:2")))
    // term b: tie tf=1 breaks to lower doc_id first
    assert(idx("b") === ((2L, 2L, "1:1,4:1")))
    assert(idx("c") === ((1L, 1L, "2:1")))
  }

  test("invertedIndex: hot term ships only the cap, counts stay exact") {
    val hot = (1L to 200L).map(i => i -> "hot").toDF("doc_id", "text")
    val row = Retrieval.invertedIndex(hot, maxPostings = 5).collect()
    assert(row.length === 1)
    assert(row(0).getLong(1) === 200L)     // df exact despite the cap
    assert(row(0).getString(3) === "1:1,2:1,3:1,4:1,5:1")
  }

  test("bm25TopK: shared rare terms outrank, self excluded, deterministic") {
    val corpus = docs(
      1L -> "apple banana apple kiwi",
      2L -> "apple cherry plum pear",
      3L -> "durian fig grape melon",
      4L -> "apple banana banana lime")
    val q = corpus.where($"doc_id" === 1L)
    val res = Retrieval.bm25TopK(corpus, q, k = 3).orderBy($"rank")
    val rows = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 itself excluded; doc 3 shares nothing -> absent entirely
    assert(!rows.exists(_._3 == 1L))
    assert(!rows.exists(_._3 == 3L))
    // doc 4 shares apple AND (twice) banana -> beats doc 2 (apple only)
    assert(rows.head._3 === 4L)
    assert(rows.map(_._3).toSet === Set(2L, 4L))
    // bit-stable across re-evaluation (integer-sum contract)
    val again = Retrieval.bm25TopK(corpus, q, k = 3).orderBy($"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq === again.toSeq)
  }

  test("bm25TopK: scores monotone in matching tf at equal length") {
    val corpus = docs(
      1L -> "x x x y",
      2L -> "x y y y",
      3L -> "z z z z")
    val q = docs(10L -> "x")
    val scored = Retrieval.bm25TopK(corpus, q, k = 3)
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(scored(1L) > scored(2L))        // tf 3 beats tf 1, same dl
    assert(!scored.contains(3L))
  }

  test("vocab: rank ids deterministic, encode maps OOV to 0") {
    val d = docs(
      1L -> "b b b a a c",
      2L -> "a b rare")
    val v = Vocab.buildVocab(d, size = 2)
    // b (4 occurrences) -> 1, a (3) -> 2; c/rare fall out
    assert(v === Map("b" -> 1, "a" -> 2))
    val enc = Vocab.encode(d, v, headIds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toList
    assert(enc === List(
      (1L, 6L, 1L, "1,1,1,2"),             // csv clips at headIds
      (2L, 3L, 1L, "2,1,0")))              // rare -> 0
  }

  test("vocab on a zero-row corpus is empty, and an empty vocab encodes " +
      "every piece as OOV") {
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val v = Vocab.buildVocab(none, size = 24)
    assert(v.isEmpty)
    assert(Vocab.encode(none, v).isEmpty)
    val enc = Vocab.encode(docs(1L -> "a b a"), v)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toList
    assert(enc === List((1L, 3L, 3L, "0,0,0")))
  }

  test("vocab: count ties break to the lexicographically smaller piece") {
    val d = docs(1L -> "beta alpha")
    assert(Vocab.buildVocab(d, size = 1) === Map("alpha" -> 1))
  }

  test("bpe on a zero-row corpus: zero merges, and zero merges encode " +
      "every word as its characters") {
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Vocab.bpeMerges(none, rounds = 6).isEmpty)
    assert(Vocab.bpeEncode(none, Nil).isEmpty)
    val got = Vocab.bpeEncode(docs(1L -> "low ab", 2L -> "x 42"), Nil)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    // "42" fails the word pattern and stays one piece
    assert(got === Seq((1L, 2L, 5L, "l,o,w,a,b"), (2L, 2L, 2L, "x,42")))
  }

  test("bpeMerges equals a sequential reference trainer, incl. same-symbol runs") {
    // classic BPE fixture + an "aaaa" run word to pin greedy semantics
    val d = docs(
      1L -> "low low low lower lower lowest",
      2L -> "new newer newest new new newer",
      3L -> "aaaa aa aaaa aaaa")
    val got = Vocab.bpeMerges(d, rounds = 6)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toList

    // independent sequential reference on the same word-frequency table
    val words = scala.collection.mutable.Map[List[String], Long]()
    d.collect().foreach(_.getString(1).split("\\s+").filter(w =>
      w.matches("^[a-z]+$") && w.length >= 2).foreach { w =>
      val k = w.map(_.toString).toList
      words(k) = words.getOrElse(k, 0L) + 1L
    })
    def applyMerge(syms: List[String], l: String, r: String): List[String] = {
      val buf = scala.collection.mutable.ListBuffer[String]()
      var s = syms
      while (s.nonEmpty) {
        if (s.length >= 2 && s.head == l && s(1) == r) { buf += l + r; s = s.drop(2) }
        else { buf += s.head; s = s.tail }
      }
      buf.toList
    }
    var cur = words.toMap
    val want = (1 to 6).flatMap { round =>
      val pairs = scala.collection.mutable.Map[(String, String), Long]()
      cur.foreach { case (syms, cnt) =>
        syms.sliding(2).filter(_.length == 2).foreach { p =>
          pairs((p(0), p(1))) = pairs.getOrElse((p(0), p(1)), 0L) + cnt
        }
      }
      if (pairs.isEmpty) None
      else {
        val ((l, r), n) = pairs.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        cur = cur.toSeq.map { case (syms, cnt) => (applyMerge(syms, l, r), cnt) }
          .filter(_._1.length >= 2)
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        Some((round.toLong, l, r, n))
      }
    }.toList
    assert(got === want)
    assert(got.size === 6) // the fixture does not exhaust in 6 rounds
  }

  test("bpeEncode: dictionary apply matches per-word sequential merges, order preserved") {
    val d = docs(
      1L -> "lower lowest x9 aaaa",
      2L -> "low aaaa")
    val merges = Seq(("l", "o"), ("lo", "w"), ("a", "a"))
    val out = Vocab.bpeEncode(d, merges, headPieces = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // lower -> [low,e,r], lowest -> [low,e,s,t], x9 passes whole,
    // aaaa -> [aa,aa] (greedy run)
    assert(out(1L) === ((4L, 10L, "low,e,r,low,e")))    // preview clips at 5
    assert(out(2L) === ((2L, 3L, "low,aa,aa")))
  }

  test("blocklistFilter: exact consecutive matches only, cardinality preserved") {
    val d = docs(
      1L -> "the quick brown fox",
      2L -> "quick brown quick brown",
      3L -> "brown quick",          // reversed -> no match
      4L -> "quickbrown together")  // no substring matches
    val out = Retrieval.blocklistFilter(d, Seq("quick brown"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out === Map(
      1L -> ((1L, true)), 2L -> ((2L, true)),
      3L -> ((0L, false)), 4L -> ((0L, false))))
    intercept[IllegalArgumentException](Retrieval.blocklistFilter(d, Seq.empty))
  }

  test("winsorize: exact bounds, clipping, and flags per group") {
    val d = (1L to 100L).map(i => (i, "g", i)) // values 1..100
      .toDF("doc_id", "grp", "v")
    val w = Frequency.winsorize(d, "grp", "v", 0.05, 0.95)
      .select($"doc_id", $"lo", $"hi", $"clipped", $"was_clipped")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(w.size === 100)                  // cardinality preserved
    // quantile_disc(ceil(p*n)): p05 -> 5th value, p95 -> 95th
    assert(w(1L) === ((5.0, 95.0, 5.0, true)))
    assert(w(50L) === ((5.0, 95.0, 50.0, false)))
    assert(w(100L) === ((5.0, 95.0, 95.0, true)))
    assert(w(95L)._4 === false)             // boundary value is inside
  }

  test("winsorize: null groups and null values fall out") {
    val d = Seq[(Long, Option[String], Option[Long])](
      (1L, Some("g"), Some(10L)), (2L, None, Some(5L)), (3L, Some("g"), None),
      (4L, Some("g"), Some(20L)), (5L, Some("g"), Some(30L)))
      .toDF("doc_id", "grp", "v")
    val ids = Frequency.winsorize(d, "grp", "v", 0.05, 0.95)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 4L, 5L))
  }

  test("plan: vocab encode is narrow (no Exchange)") {
    val d = docs(1L -> "a b", 2L -> "b c")
    val plan = Vocab.encode(d, Map("a" -> 1, "b" -> 2))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("phraseSearch: overlapping occurrences and repeated-term phrases count exactly") {
    val corpus = docs(
      1L -> "a a a b", // "a a" occurs at starts 0 and 1 (overlap)
      2L -> "a b a b a", // "a b a" at starts 0 and 2; NO adjacent "a a"
      3L -> "b b b")
    val phrases = Seq((10L, "a a"), (11L, "a b a"))
      .toDF("phrase_id", "phrase")
    val out = Retrieval.phraseSearch(corpus, phrases)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map((10L, 1L) -> 2L, (11L, 2L) -> 2L))
  }

  test("phraseSearch: a phrase prefix at end-of-doc is not a match") {
    val corpus = docs(1L -> "x y") // ends with the phrase's FIRST word only
    val phrases = Seq((1L, "y z")).toDF("phrase_id", "phrase")
    assert(Retrieval.phraseSearch(corpus, phrases).count() === 0L)
  }

  test("phraseSearch: the phrase table reaches the corpus as a broadcast") {
    val corpus = docs(1L -> "a b c", 2L -> "c a b")
    val phrases = Seq((1L, "a b")).toDF("phrase_id", "phrase")
    val plan = Retrieval.phraseSearch(corpus, phrases)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("madOutliers: flags exactly |v - med| > k*MAD, medians exact") {
    val df = ((1L to 9L).map(v => ("a", v)) :+ (("a", 100L)))
      .toDF("g", "v")
    val out = Frequency.madOutliers(df, "g", "v", k = 3.0)
    // sorted values 1..9,100: med = 5 (quantile_disc 0.5 of n=10);
    // devs sorted 0,1,1,2,2,3,3,4,4,95: MAD = 2; threshold 6 -> only 100
    val flagged = out.where($"is_outlier").select($"v")
      .collect().map(_.getLong(0)).toSeq
    assert(flagged === Seq(100L))
    val r = out.where($"v" === 100L).select($"med", $"mad").head
    assert(r.getDouble(0) === 5.0 && r.getDouble(1) === 2.0)
  }

  test("madOutliers: groups are independent; null group/value rows fall out") {
    val df = Seq[(Option[String], Option[Long])](
      (Some("a"), Some(1L)), (Some("a"), Some(2L)), (Some("a"), Some(3L)),
      (Some("a"), Some(1000L)), // outlier in a only
      (Some("b"), Some(1000L)), (Some("b"), Some(1001L)), (Some("b"), Some(1002L)),
      (None, Some(5L)), (Some("a"), None))
      .toDF("g", "v")
    val out = Frequency.madOutliers(df, "g", "v", k = 3.0)
    assert(out.count() === 7L) // null rows excluded
    val flagged = out.where($"is_outlier")
      .select($"g", $"v").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(flagged.toSeq === Seq(("a", 1000L))) // b's 1000s are normal for b
  }

  test("nearSearch: window bound inclusive, any order, counts every pair") {
    import spark.implicits._
    val docs = Seq(
      (1L, "value x y table"),       // distance 3: inside NEAR/3
      (2L, "value x y z table"),     // distance 4: outside
      (3L, "table value"),           // reversed order, distance 1
      (4L, "value table value"),     // two pairs: distances 1 and 1
      (5L, "value only here")        // missing second term
    ).toDF("doc_id", "text")
    val got = graft.ext.Retrieval.nearSearch(docs, "value", "table", 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("min_dist")))).toMap
    assert(got === Map(
      1L -> ((1L, 3L)), 3L -> ((1L, 1L)), 4L -> ((2L, 1L))))
  }
}

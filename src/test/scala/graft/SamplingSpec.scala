package graft

import org.apache.spark.sql.functions._

import graft.ext.{Contamination, Sampling}

/** Deterministic sampling / splitting / decontamination properties the
  * oracle gate can't isolate: stability across re-evaluation, split
  * exhaustiveness, rate monotonicity, the overlap guarantee, and the
  * hot-fingerprint cap. */
class SamplingSpec extends SparkSpec {

  import spark.implicits._

  test("weightedSample at a constant rate is deterministic and monotone in the rate") {
    val df = (1L to 2000L).toDF("doc_id")
    def sample(rateBp: Int) = Sampling.weightedSample(df, "doc_id", lit(rateBp))
      .collect().map(_.getLong(0)).toSet
    val s10a = sample(1000)
    val s10b = sample(1000)
    val s20 = sample(2000)
    assert(s10a === s10b)                       // same rows every run
    assert(s10a.subsetOf(s20))                  // raising the rate only adds rows
    // 10% nominal; md5 is uniform enough that 2000 keys land within ±50%
    assert(s10a.size > 100 && s10a.size < 300, s"got ${s10a.size}")
  }

  test("mixtureSample: rates feasible, min source kept ~whole, big sources cut toward sqrt mix") {
    // three sources with counts 4000 / 900 / 100
    val df = ((1L to 4000L).map(i => (i, "web")) ++
      (4001L to 4900L).map(i => (i, "books")) ++
      (4901L to 5000L).map(i => (i, "code"))).toDF("doc_id", "source")
    val rates = Sampling.mixtureRates(df, "source", alpha = 0.5)
    assert(rates.keySet === Set("web", "books", "code"))
    assert(rates.values.forall(bp => bp >= 0 && bp <= 10000))
    // the scarcest-relative-to-target source anchors the feasible total:
    // its keep-rate is 10000 up to floor rounding
    assert(rates.values.max >= 9990, s"rates $rates")
    // alpha=0.5 flattens: the largest source must be cut the hardest
    assert(rates("web") < rates("books") && rates("books") <= rates("code"),
      s"rates $rates")
    // kept counts should land near w_s * N* (md5 uniformity, ±20%)
    val kept = Sampling.mixtureSample(df, "doc_id", "source").groupBy($"source")
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sq = Map("web" -> math.sqrt(4000), "books" -> math.sqrt(900), "code" -> math.sqrt(100))
    val sqSum = sq.values.sum
    val nStar = Seq(4000 / (sq("web") / sqSum), 900 / (sq("books") / sqSum),
      100 / (sq("code") / sqSum)).min
    sq.foreach { case (s, w) =>
      val want = w / sqSum * nStar
      assert(math.abs(kept(s) - want) < want * 0.2 + 10,
        s"$s kept ${kept(s)}, target ~$want")
    }
    // determinism: same rows on rerun
    val a = Sampling.mixtureSample(df, "doc_id", "source").collect().map(_.getLong(0)).toSet
    val b = Sampling.mixtureSample(df, "doc_id", "source").collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("mixtureSample alpha=1 keeps the natural mix (every rate ~10000)") {
    val df = ((1L to 300L).map(i => (i, "a")) ++ (301L to 400L).map(i => (i, "b")))
      .toDF("doc_id", "source")
    val rates = Sampling.mixtureRates(df, "source", alpha = 1.0)
    assert(rates.values.forall(_ >= 9990), s"rates $rates")
  }

  test("mixtureSample on a zero-row corpus: no rates, no rows") {
    val none = Seq.empty[(Long, String)].toDF("doc_id", "source")
    assert(Sampling.mixtureRates(none, "source") === Map.empty)
    assert(Sampling.mixtureSample(none, "doc_id", "source").isEmpty)
  }

  test("shardAssign: dense 0..n-1 positions per shard, full coverage, deterministic") {
    val df = (1L to 3000L).toDF("doc_id")
    val out = Sampling.shardAssign(df, "doc_id", 8).collect()
    assert(out.length === 3000)
    assert(out.map(_.getAs[Long]("doc_id")).toSet === (1L to 3000L).toSet)
    val byShard = out.groupBy(_.getAs[Long]("shard"))
    assert(byShard.keySet.subsetOf((0L until 8L).toSet))
    byShard.foreach { case (s, rows) =>
      val ps = rows.map(_.getAs[Long]("pos")).sorted
      assert(ps === (0L until rows.length).toArray.toSeq, s"shard $s positions not dense")
      // md5 uniformity: 3000/8 = 375 ± 35%
      assert(rows.length > 240 && rows.length < 520, s"shard $s size ${rows.length}")
    }
    val again = Sampling.shardAssign(df, "doc_id", 8).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"), r.getAs[Long]("pos"))).toSet
    assert(again === out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"),
      r.getAs[Long]("pos"))).toSet)
  }

  test("capPerGroup: min(size,k) kept per group; membership stable under repartitioning") {
    val df = ((1L to 100L).map(i => (i, "big")) ++
      (101L to 110L).map(i => (i, "small"))).toDF("doc_id", "source")
    val kept = Sampling.capPerGroup(df, "doc_id", "source", 25).collect()
    val byGroup = kept.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(byGroup === Map("big" -> 25, "small" -> 10))
    // the draw keys off md5, not arrival order: shuffled input, same rows
    val reshuffled = Sampling.capPerGroup(df.repartition(7, $"doc_id"),
      "doc_id", "source", 25).collect().map(_.getLong(0)).toSet
    assert(reshuffled === kept.map(_.getLong(0)).toSet)
    // and it is a hash draw, not lowest-k ids
    assert(kept.filter(_.getString(1) == "big").map(_.getLong(0)).toSet
      !== (1L to 25L).toSet)
  }

  test("capPerGroup / budgetSelectPerGroup: bucketed prefix pruning == " +
      "the single-window form") {
    // buckets = 1: no pruning (offset 0 for all), the window collapses
    // to the pre-r11 per-group form — any bucket count must keep the
    // exact same membership and cumulative sums
    val rnd = new scala.util.Random(13)
    val df = (1L to 400L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    def runCap(b: Int) = Sampling.capPerGroup(df, "doc_id", "source", 30,
      buckets = b).collect().map(_.getLong(0)).toSet
    val cap1 = runCap(1)
    assert(cap1.size === 4 * 30)
    assert(runCap(16) === cap1)
    assert(runCap(1024) === cap1)
    val docs = (1L to 200L).map(i => (s"l${i % 3}", i,
      (0 until 1 + rnd.nextInt(5)).map(j => s"t$j").mkString(" "),
      rnd.nextInt(50).toLong)).toDF("lang", "doc_id", "text", "score")
    def runBudget(b: Int) = Sampling.budgetSelectPerGroup(
        docs, 60L, "lang", "score", buckets = b)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("cum_before")).toMap
    val bud1 = runBudget(1)
    assert(bud1.nonEmpty)
    assert(runBudget(8) === bud1)
    assert(runBudget(256) === bud1)
  }

  test("splitAssign covers every row exactly once and respects weights roughly") {
    val df = (1L to 5000L).toDF("doc_id")
    val counts = df.select(Sampling.splitAssign($"doc_id",
        Seq(("train", 8000), ("val", 1000), ("test", 1000))).as("s"))
      .groupBy($"s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum === 5000L)
    assert(counts("train") > 3500 && counts("val") > 250 && counts("test") > 250)
  }

  test("splitAssign gives null-keyed rows a null split, not the last label") {
    // hashBucket's contract: a NULL key falls out of every sample/split.
    // The un-guarded CASE would dump nulls into 'test' silently.
    val df = Seq(Some(1L), Some(2L), None).toDF("doc_id")
    val out = df.select($"doc_id", Sampling.splitAssign($"doc_id",
        Seq(("train", 9000), ("test", 1000))).as("s"))
      .collect().map(r => (r.isNullAt(0), Option(r.getString(1)))).toMap
    assert(out(true) === None)                    // null key → null split
    assert(out(false).exists(Set("train", "test"))) // real keys still assigned
  }

  test("leakage-safe split: every near-dup component lands whole in one split") {
    val df = graft.queries.ExtQueries.splitLeakageSafe(spark, sfDir)
    // the defining property: one distinct split per component
    assert(df.groupBy($"component_id")
      .agg(countDistinct($"split").as("n")).where($"n" =!= 1).count() === 0)
    // and it is a real split (more than one label in use), covering all rows
    assert(df.select($"split").distinct().count() >= 2)
    assert(df.where($"split".isNull).count() === 0)
    // non-degenerate: at least one multi-member component exercises the property
    assert(df.groupBy($"component_id").count().where($"count" > 1).count() > 0)
  }

  test("weightedSample: boundary rates, clamping, and per-row monotonicity") {
    import graft.ext.Sampling
    val df = (1 to 2000).map(i => (i.toLong, i % 7)).toDF("k", "grp")
    assert(Sampling.weightedSample(df, "k", lit(0)).count() === 0)
    assert(Sampling.weightedSample(df, "k", lit(10000)).count() === 2000)
    // clamps: out-of-range rates behave as 0 / 10000
    assert(Sampling.weightedSample(df, "k", lit(-50)).count() === 0)
    assert(Sampling.weightedSample(df, "k", lit(99999)).count() === 2000)
    // monotone per row: a higher rate keeps a superset
    def kept(rate: org.apache.spark.sql.Column) =
      Sampling.weightedSample(df, "k", rate).select("k")
        .collect().map(_.getLong(0)).toSet
    val lo = kept(lit(2000)); val hi = kept(lit(6000))
    assert(lo.subsetOf(hi) && lo.nonEmpty && hi.size > lo.size)
    // per-row expression rates: rows in grp 0 sampled at 10000, rest at 0
    val byGrp = Sampling.weightedSample(df, "k",
        when($"grp" === 0, 10000).otherwise(0))
      .select("grp").distinct().collect().map(_.getInt(0)).toSeq
    assert(byGrp === Seq(0))
  }

  test("stratifiedSample applies per-stratum rates") {
    val df = (1L to 4000L).map(i => (i, if (i % 2 == 0) "en" else "zh"))
      .toDF("doc_id", "lang")
    val out = Sampling.stratifiedSample(df, "doc_id", "lang",
      Map("en" -> 0, "zh" -> 10000), defaultBp = 0).collect()
    assert(out.nonEmpty && out.forall(_.getString(1) == "zh"))
    assert(out.length === 2000) // zh at 100%
  }

  test("packSequences: two-phase prefix sum equals the in-driver scan under adversarial partitioning") {
    import graft.ext.Sampling
    val rnd = new scala.util.Random(3L)
    val docs = (0L until 500L).map { id =>
      (id, (1 to (1 + rnd.nextInt(40))).map(_ => "w").mkString(" "))
    }
    // feed the operator a hostile layout: 7 unsorted hash partitions
    val df = docs.toDF("doc_id", "text").repartition(7)
    val got = Sampling.packSequences(df, 100L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    var run = 0L
    val want = docs.map { case (id, text) =>
      val n = text.split("\\s+").length.toLong
      val ex = run; run += n
      id -> ((n, ex / 100L))
    }.toMap
    assert(got === want)
    assert(got.values.map(_._2).max > 10) // many sequences actually formed
    // the plan must never drag the corpus into one partition: the only
    // exchange is the nPart-way range partitioning
    val plan = Sampling.packSequences(df, 100L).queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.contains("rangepartitioning"), plan)
  }

  test("contamination finds a planted >= k+w-1 overlap and respects minShared") {
    val planted = "zqxjvkwpbf mntrlsgdhc" // 21 chars → many shared fingerprints
    val corpus = Seq(
      (1L, s"lead text then $planted and a tail"),
      (2L, "completely unrelated content with other words"),
      (3L, s"$planted")).toDF("doc_id", "text")
    val probes = Seq((100L, s"probe context $planted more")).toDF("doc_id", "text")
    val hits = Contamination.overlaps(corpus, probes, minShared = 2)
      .collect().map(r => r.getLong(0)).toSet
    assert(hits === Set(1L, 3L))

    // disjoint id spaces: an eval set numbered independently may share
    // ids with the corpus — excludeSelfIds=false must keep the (1,1)
    // pair that the subset-mode exclusion would wrongly drop
    val evalSet = Seq((1L, s"benchmark item $planted")).toDF("doc_id", "text")
    val keep = Contamination.overlaps(corpus, evalSet, minShared = 2,
        excludeSelfIds = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keep.contains((1L, 1L)))
  }

  test("maxDf cap drops boilerplate fingerprints shared by every doc") {
    val boiler = "standard disclaimer text appended everywhere"
    val corpus = (1L to 6L).map(i => (i, s"doc body $i $boiler")).toDF("doc_id", "text")
    val probes = Seq((100L, boiler)).toDF("doc_id", "text")
    val uncapped = Contamination.overlaps(corpus, probes, 1)
    val capped = Contamination.overlaps(corpus, probes, 1, maxDf = 3)
    assert(uncapped.count() === 6)   // every doc shares the boilerplate
    assert(capped.count() === 0)     // fingerprints in >3 docs are dropped
  }

  test("weighted WOR: equals the A-ES formula replayed independently; deterministic") {
    val rows = (1L to 200L).map(i => (i, (i % 7 + 1) * 10L)).toDF("k", "w")
    val got = Sampling.weightedWithoutReplacement(rows, "k", "w", 20)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // independent replay of score_q8 = floor(-ln((b+1)/10001)/w * 1e8)
    def bucket(k: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map(b => f"$b%02x").mkString, 16) % 10000L
    }
    val want = (1L to 200L).map { i =>
      val w = (i % 7 + 1) * 10L
      val u = (bucket(i) + 1.0) / 10001.0
      (i, math.floor(-math.log(u) / w * 1e8).toLong)
    }.sortBy { case (k, s) => (s, k) }.take(20)
    assert(got.toSet === want.toSet)
    val again = Sampling.weightedWithoutReplacement(rows.repartition(11), "k", "w", 20)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(again.toSet === want.toSet)
  }

  test("weighted WOR: null/zero weights and null keys fall out; heavier is likelier") {
    val rows = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(0L)), (Some(2L), None), (None, Some(5L)),
      (Some(4L), Some(3L)), (Some(5L), Some(8L)))
      .toDF("k", "w")
    val kept = Sampling.weightedWithoutReplacement(rows, "k", "w", 10)
      .select($"k").collect().map(_.getLong(0)).toSet
    assert(kept === Set(4L, 5L))
    // inclusion is weight-monotone in aggregate: with half the corpus at
    // 10x weight, the top quarter must be dominated by heavy rows
    val mixed = (1L to 400L).map(i =>
      (i, if (i <= 200) 1000L else 100L)).toDF("k", "w")
    val top = Sampling.weightedWithoutReplacement(mixed, "k", "w", 100)
      .select($"k").collect().map(_.getLong(0))
    assert(top.count(_ <= 200) > 80, s"heavy rows: ${top.count(_ <= 200)}/100")
  }

  test("weighted WOR plan: TakeOrderedAndProject, no global sort exchange") {
    val rows = (1L to 50L).map(i => (i, i)).toDF("k", "w")
    val plan = Sampling.weightedWithoutReplacement(rows, "k", "w", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("budgetSelect: greedy prefix equals the window form; crossing doc kept, no single-task plan") {
    // scores engineered with ties; token counts = word counts
    val docs = (1L to 200L).map { i =>
      val n = 1 + (i % 7).toInt
      (i, (1 to n).map(j => s"w${i}_$j").mkString(" "), (i % 5) * 100L)
    }.toDF("doc_id", "text", "score")
    val budget = 150L
    val out = Sampling.budgetSelect(docs, budget, "score")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    // driver-side reference: sort by (score desc, id), running exclusive sum
    val ref = docs.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(1).split("\\s+").length.toLong))
      .sortBy { case (id, s, _) => (-s, id) }
    var run = 0L
    val want = ref.flatMap { case (id, s, n) =>
      val ex = run; run += n
      if (ex < budget) Some(id -> ((s, n, ex))) else None
    }.toMap
    assert(out === want)
    // the boundary doc overshoots but is included (cum_before < budget)
    val last = want.maxBy(_._2._3)
    assert(last._2._3 < budget && last._2._3 + last._2._2 >= budget)
    // scale shape: no Window operator, no single-partition exchange
    val plan = Sampling.budgetSelect(docs, budget, "score")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("budgetSelectPerGroup: independent quota per group, no single-partition exchange") {
    val docs = Seq(
      ("en", 1L, "a b c", 300L), ("en", 2L, "d e", 200L), ("en", 3L, "f", 100L),
      ("fr", 4L, "g h i j", 500L), ("fr", 5L, "k l", 400L))
      .toDF("lang", "doc_id", "text", "score")
    val out = Sampling.budgetSelectPerGroup(docs, 4L, "lang", "score")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cum_before")).toMap
    // en: doc1 (3 toks, cum 0) then doc2 (cum 3 < 4) then doc3 (cum 5 stops)
    // fr: doc4 (4 toks, cum 0) then doc5 (cum 4 = budget stops)
    assert(out === Map(1L -> 0L, 2L -> 3L, 4L -> 0L))
    val plan = Sampling.budgetSelectPerGroup(docs, 4L, "lang", "score")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("dsirScores equals an independent driver-side replay; target-like docs outrank off-domain") {
    // 3 "wiki-like" docs, 3 "web-like" docs, one single-token doc
    val docs = Seq(
      (1L, "the free encyclopedia article about science and history"),
      (2L, "the encyclopedia article about history and the free science"),
      (3L, "an encyclopedia article concerning free science topics"),
      (4L, "buy cheap pills online now best casino deals click here"),
      (5L, "click here now for cheap casino deals and pills online"),
      (6L, "best online casino click now cheap deals here pills buy"),
      (7L, "solo")).toDF("doc_id", "text")
    val target = docs.filter($"doc_id" <= 3L)
    val out = Sampling.dsirScores(docs, target, nBuckets = 32)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    // independent replay: plain Scala maps over the same md5 bucketing
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def grams(t: String) = {
      val ws = t.toLowerCase.split("\\s+").toSeq
      if (ws.length < 2) Seq.empty
      else ws.sliding(2).map(_.mkString(" ")).toSeq
    }
    def bucket(g: String) = java.lang.Long.parseLong(md5hex(g).take(8), 16) % 32
    val all = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rawB = all.toSeq.flatMap { case (id, t) => grams(t).map(g => id -> bucket(g)) }
    val tgtB = all.filter(_._1 <= 3L).toSeq.flatMap { case (_, t) => grams(t).map(bucket) }
    val cr = rawB.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val ct = tgtB.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (nr, nt) = (BigInt(rawB.size), BigInt(tgtB.size))
    def q(b: Long) = (BigInt(1000000) * (BigInt(ct.getOrElse(b, 0L)) + 1) * (nr + 32) /
      ((BigInt(cr.getOrElse(b, 0L)) + 1) * (nt + 32))).toLong
    val want = all.map { case (id, _) =>
      val bs = rawB.filter(_._1 == id).map(_._2)
      id -> ((bs.size.toLong,
        if (bs.isEmpty) 0L else bs.map(q).sum / bs.size))
    }
    assert(out === want)
    // domain separation: every target-like doc outranks every off-domain doc
    val wiki = (1L to 3L).map(out(_)._2).min
    val web = (4L to 6L).map(out(_)._2).max
    assert(wiki > web, s"wiki min $wiki should exceed web max $web")
    assert(out(7L) === ((0L, 0L))) // no bigrams -> zero score, row kept
  }

  test("bootstrapCi: deterministic reruns, exact point estimate, constant data collapses the interval") {
    import spark.implicits._
    val rows = (1L to 200L).map(i => ("a", i, (i % 7 + 1).toDouble)) ++
      (1L to 150L).map(i => ("b", i + 1000L, 3.0)) // constant-valued group
    val df = rows.toDF("g", "id", "v")
    val out = Sampling.bootstrapCi(df, "g", "id", "v", b = 100)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // exact point estimate: Σcents over n, q4
    val aCents = (1L to 200L).map(i => (i % 7 + 1) * 100).sum
    assert(out("a")._2 === 10000L * aCents / 200L)
    // constant group: every resample mean is exactly 300 cents → q4 3000000
    assert(out("b") === ((150L, 3000000L, 3000000L, 3000000L)))
    // interval brackets sanely and reruns are bit-identical
    assert(out("a")._3 <= out("a")._2 + 500 && out("a")._4 >= out("a")._2 - 500)
    assert(out("a")._3 <= out("a")._4)
    val again = Sampling.bootstrapCi(df, "g", "id", "v", b = 100)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(again === out)
  }

  test("bootstrapLiftCi: sign-correct lift, constant arms collapse the interval, deterministic") {
    import spark.implicits._
    // arm 1 pays 5.00 always, arm 0 pays 2.00 always → lift exactly +3.00
    val rows = (1L to 120L).map(i => ("0", i, 2.00)) ++
      (1L to 130L).map(i => ("1", i + 500L, 5.00))
    val df = rows.toDF("arm", "id", "v")
    val out = Sampling.bootstrapLiftCi(df, "arm", "id", "v", "0", "1",
      b = 100).collect().head
    // constant values: every resample mean is exact → every diff equal
    assert(out.getLong(0) === 5000000L - 2000000L) // lift_q4
    assert(out.getLong(1) === 100L)                // all resamples paired
    assert(out.getLong(2) === 3000000L)            // lo = hi = point lift
    assert(out.getLong(3) === 3000000L)
    val again = Sampling.bootstrapLiftCi(df, "arm", "id", "v", "0", "1",
      b = 100).collect().head
    assert(again.toSeq === out.toSeq)
  }

  test("paretoFrontier: dominance exact, equal-on-both ties survive, nulls dropped") {
    // (id, quality, tokens) — maximize quality, minimize tokens
    val rows = Seq(
      (1L, 90L, 100L),  // frontier (best quality)
      (2L, 90L, 200L),  // dominated by 1 (same q, more tokens)
      (3L, 80L, 50L),   // frontier (fewer tokens than everything above)
      (4L, 80L, 50L),   // equal on both to 3 → survives too
      (5L, 70L, 60L),   // dominated by 3 (less q, more tokens)
      (6L, 60L, 40L),   // frontier
      (7L, 95L, 100L)   // frontier: same tokens as 1 but higher quality → 1 dies
    )
    val df = spark.createDataFrame(rows).toDF("id", "q", "t")
    val out = Sampling.paretoFrontier(df, "q", "t", "id")
      .collect().map(_.getLong(0)).toSet
    assert(out === Set(7L, 3L, 4L, 6L))
    // naive O(n²) dominance replay must agree exactly
    val naive = rows.filter { case (_, q, t) =>
      !rows.exists { case (_, q2, t2) =>
        (q2 > q && t2 <= t) || (q2 >= q && t2 < t) }
    }.map(_._1).toSet
    assert(out === naive)
  }

  private def rakeRows(counts: Seq[(String, String, Int)]) =
    counts.flatMap { case (a, b, n) => Seq.fill(n)((a, b)) }
      .toDF("lang", "source")

  test("rakeWeights: one hand-computed IPF round") {
    // counts x/p=30 x/q=10 y/p=10 y/q=10: N=60, targets 300000 q4 each.
    // row step: (225000, 75000, 150000, 150000);
    // col step: (180000, 100000, 120000, 200000).
    val out = graft.ext.Sampling.rakeWeights(
        rakeRows(Seq(("x", "p", 30), ("x", "q", 10),
          ("y", "p", 10), ("y", "q", 10))), rounds = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(("x", "p")) === ((30L, 180000L, 6000L)))
    assert(out(("x", "q")) === ((10L, 100000L, 10000L)))
    assert(out(("y", "p")) === ((10L, 120000L, 12000L)))
    assert(out(("y", "q")) === ((10L, 200000L, 20000L)))
  }

  test("rakeWeights: three rounds pull BOTH marginals near uniform") {
    val out = graft.ext.Sampling.rakeWeights(
        rakeRows(Seq(("x", "p", 40), ("x", "q", 5),
          ("y", "p", 10), ("y", "q", 25))), rounds = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3)))
    val target = 80L * 10000L / 2L
    def off(tot: Long) = math.abs(tot - target).toDouble / target
    val rowTot = out.groupBy(_._1).values.map(_.map(_._3).sum)
    val colTot = out.groupBy(_._2).values.map(_.map(_._3).sum)
    rowTot.foreach(t => assert(off(t) < 0.02, s"row $t vs $target"))
    colTot.foreach(t => assert(off(t) < 0.02, s"col $t vs $target"))
  }

  test("largestRemainder: exact Hamilton apportionment, remainder ties break by key") {
    import spark.implicits._
    // weights 5, 3, 2 over 7 slots: bases 3,2,1 (quota 3.5/2.1/1.4);
    // leftover 1 goes to the largest remainder (a: .5)
    val w = Seq(("a", 5L), ("b", 3L), ("c", 2L)).toDF("k", "wt")
    val out = Sampling.largestRemainder(w, Seq("k"), "wt", 7L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out === Map("a" -> 4L, "b" -> 2L, "c" -> 1L))
    // equal weights, slots not divisible: ties resolve in key order
    val eq = Seq(("x", 1L), ("y", 1L), ("z", 1L)).toDF("k", "wt")
    val out2 = Sampling.largestRemainder(eq, Seq("k"), "wt", 4L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out2 === Map("x" -> 2L, "y" -> 1L, "z" -> 1L))
    // randomized: totals always hit exactly
    val rnd = new scala.util.Random(5L)
    val many = (1 to 20).map(i => (f"k$i%02d", rnd.nextInt(1000).toLong + 1))
    val alloc = Sampling.largestRemainder(many.toDF("k", "wt"), Seq("k"), "wt", 997L)
      .collect().map(_.getLong(2))
    assert(alloc.sum === 997L)
    assert(alloc.forall(_ >= 0L))
  }

  test("temperatureMixture: sqrt reweighting flattens the head, slots sum exactly, " +
      "epochs_bp reads the oversampling factor") {
    import spark.implicits._
    // n = 100/25/4 → w = 10/5/2 (exact integer sqrts); Σw = 17 slots →
    // allocation IS the weights; a 25x size ratio compresses to 5x
    val c = Seq(("big", 100L), ("mid", 25L), ("tail", 4L)).toDF("src", "n")
    val out = Sampling.temperatureMixture(c, Seq("src"), "n", 17L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out === Map(
      "big" -> ((100L, 10L, 10L, 1000L)),
      "mid" -> ((25L, 5L, 5L, 2000L)),
      "tail" -> ((4L, 2L, 2L, 5000L))))
    // two sqrt iterations = temperature 4: ⌊⌊√n⌋^(1/2)⌋ = ⌊n^(1/4)⌋
    val out2 = Sampling.temperatureMixture(c, Seq("src"), "n", 6L, sqrtIters = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out2 === Map(
      "big" -> ((3L, 3L)), "mid" -> ((2L, 2L)), "tail" -> ((1L, 1L))))
    // slots always sum to the budget
    assert(out.values.map(_._3).sum === 17L && out2.values.map(_._2).sum === 6L)
  }

  test("epochSchedule: every epoch covers every key once, positions are dense " +
      "per shard, epoch orders are independent permutations, fully deterministic") {
    import spark.implicits._
    val docs = (1L to 24L).map(i => Tuple1(i)).toDF("doc_id")
    def run() = Sampling.epochSchedule(docs, "doc_id", epochs = 3, nShards = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(0)))
    val rows = run()
    assert(rows.length === 72)
    // coverage: each epoch sees all 24 keys exactly once
    (0L to 2L).foreach { e =>
      val keys = rows.filter(_._1 == e).map(_._4)
      assert(keys.sorted.toSeq === (1L to 24L).toSeq, s"epoch $e coverage")
    }
    // density: per (epoch, shard) positions are exactly 0..count-1
    rows.groupBy(r => (r._1, r._2)).foreach { case ((e, s), grp) =>
      assert(grp.map(_._3).sorted.toSeq === (0L until grp.length).toSeq,
        s"epoch $e shard $s positions")
    }
    // independence: the (shard, pos) order of keys differs across epochs
    def order(e: Long) = rows.filter(_._1 == e).sortBy(r => (r._2, r._3)).map(_._4).toSeq
    assert(order(0L) !== order(1L))
    assert(order(1L) !== order(2L))
    // determinism: a re-run reproduces the schedule bit-for-bit
    assert(run().sorted.toSeq === rows.sorted.toSeq)
  }

  test("kCenterCoreset on a zero-row corpus is the empty coreset") {
    val none = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val got = Sampling.kCenterCoreset(none, k = 6)
    assert(got.columns.toSeq === Seq("rank", "vec_id", "d2_q6"))
    assert(got.isEmpty)
  }

  test("kCenterCoreset: farthest-point traversal golden on a line; exact-tie " +
      "breaks to min id; corpus smaller than k fails loudly") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    import org.apache.spark.sql.functions.col
    def v(x: Float) = Seq(x, 0.0f)
    // points 0, 10, 5, 9: seed = id 1 (min id), then 10 (d2 100),
    // then 5 (min-dist 25 beats 9's 1), then 9 (d2 1)
    val emb = Seq((1L, v(0f)), (2L, v(10f)), (3L, v(5f)), (4L, v(9f)))
      .toDF("vec_id", "embedding")
    val got = graft.ext.Sampling.kCenterCoreset(emb, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 1L, 0L), (2L, 2L, 100000000L),
      (3L, 3L, 25000000L), (4L, 4L, 1000000L)))
    // symmetric points at -3 and +3 around the seed at 0: identical d2,
    // the smaller id wins
    val tie = Seq((1L, v(0f)), (5L, v(3f)), (4L, v(-3f)))
      .toDF("vec_id", "embedding")
    val t = graft.ext.Sampling.kCenterCoreset(tie, 2).collect()
    assert(t.map(r => r.getLong(1)).toSeq === Seq(1L, 4L))
    val e = intercept[IllegalArgumentException] {
      graft.ext.Sampling.kCenterCoreset(emb, 8).collect()
    }
    assert(e.getMessage.contains("fewer than k"))
    spark.catalog.clearCache()
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator mirroring the TESTDATA.md
  * schemas and value distributions — the scale-proof harness: generate
  * the SAME corpus shape at two multipliers (m = 1 ≙ sf0.1-sized,
  * m = 10 ≙ sf1-sized), run the expensive queries against both, and
  * the time ratio IS the scaling exponent (near-linear ⇒ the
  * partition/shuffle story holds at 10×; super-linear ⇒ a quadratic
  * stage is hiding somewhere).
  *
  * Every column derives from xxhash64(id, salt) — no RNG state, so any
  * row is reproducible in isolation and the generator parallelizes as
  * a pure spark.range projection (no driver data, no shuffle until the
  * write).
  *
  * Two distribution choices matter for honest exponents:
  *  - embeddings: cluster count scales with m, cluster SIZE stays
  *    constant (real corpora grow by adding clusters, not by inflating
  *    every near-dup group — within-cluster pair output would
  *    otherwise grow quadratically BY CONSTRUCTION and measure the
  *    data, not the operator);
  *  - documents: near-dup density constant (~10% planted copies of
  *    the previous doc), vocabulary fixed — fingerprint buckets grow
  *    in number, not size.
  *
  * Usage: {{{ runMain graft.ScaleGen <outDir> <multiplier> }}}
  */
object ScaleGen {

  private val vocab = Seq("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "hash", "value", "scan", "fast", "slow",
    "query", "agg", "table", "group", "vector", "a", "b")

  /** Uniform long in [0, n) derived from (id, salt) — the one
    * randomness primitive. */
  private def h(idCol: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(idCol, lit(salt)), lit(n))

  /** Log-uniform ("Zipf s≈1") key in [0, n): k = ⌊n^u⌋ − 1 for uniform
    * u, so P(k) = ln((k+2)∕(k+1))∕ln n ∝ ≈1∕(k+1) — key 0 alone draws
    * ln 2∕ln n of ALL rows (≈9.5% at n = 1500, events.user_id's m = 1
    * cardinality; ≈7.2% at n = 15000, its m = 10 cardinality — the hot
    * key COOLS as the keyspace grows, like real web/user data), the
    * classic hot-key profile at 100 TB. Same (id, salt) determinism
    * as [[h]]. */
  private def zipfKey(idCol: Column, salt: Int, n: Long): Column =
    least(lit(n - 1), greatest(lit(0L),
      floor(pow(lit(n.toDouble),
        h(idCol, salt, 1000000L).cast("double") / 1000000.0))
        .cast("long") - 1))

  /** @param heapsVocab 0 = mirror the testdata's degenerate 20-word
    *   vocabulary (every term in most documents — the adversarial case
    *   for retrieval/dedup candidate generation); > 0 = draw tokens
    *   from a vocabulary of that size, sized per Heaps' law
    *   (V ∝ √corpus) by the caller — the realistic text model where
    *   document frequency per term grows sublinearly.
    * @param zipfSkew true = draw the hot join/groupBy keys
    *   (events.user_id, orders.o_custkey, lineitem.l_partkey) from the
    *   log-uniform [[zipfKey]] distribution instead of uniform, and
    *   plant a corpus-hot 16-token boilerplate PREFIX on ~20% of
    *   documents (two grid-aligned hot segments for segment dedup; the
    *   rest of each text stays unique, so pair-producing operators
    *   don't get quadratic output BY CONSTRUCTION — the skew lands on
    *   keys and groups, which is the thing under test). */
  def generate(spark: SparkSession, outDir: String, m: Int,
      heapsVocab: Long = 0L, zipfSkew: Boolean = false): Unit = {
    require(m >= 1, s"multiplier must be >= 1, got $m")
    val day = 86400L * 1000000L // micros
    def key(idCol: Column, salt: Int, n: Long): Column =
      if (zipfSkew) zipfKey(idCol, salt, n) else h(idCol, salt, n)

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    val nOrders = 150000L * m
    val nCust = 15000L * m
    val nPart = 20000L * m
    val nSupp = 1000L * m
    val nUsers = 1500L * m
    val nEvents = 100000L * m
    val nDocs = 5000L * m
    val nVecs = 2000L * m
    val nLabels = 10L * m // clusters scale in COUNT, not size

    write(spark.range(5).select($"id".cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), $"id".cast("int") + 1).as("r_name")),
      "region")

    write(spark.range(25).select($"id".cast("int").as("n_nationkey"),
      concat(lit("NATION_"), $"id").as("n_name"),
      ($"id" % 5).cast("int").as("n_regionkey")), "nation")

    write(spark.range(nSupp).select($"id".as("s_suppkey"),
      format_string("Supplier#%09d", $"id").as("s_name"),
      h($"id", 1, 25).cast("int").as("s_nationkey"),
      (h($"id", 2, 999999) / 100.0).as("s_acctbal")), "supplier")

    write(spark.range(nPart).select($"id".as("p_partkey"),
      concat(
        element_at(array(Seq("large", "hot", "blue", "small", "red",
          "green", "dim", "shiny").map(lit): _*), h($"id", 3, 8).cast("int") + 1),
        lit(" "),
        element_at(array(Seq("ring", "bolt", "washer", "nut", "gear",
          "cam", "rod", "pin").map(lit): _*), h($"id", 4, 8).cast("int") + 1))
        .as("p_name"),
      concat(lit("Brand#"), h($"id", 5, 25)).as("p_brand"),
      element_at(array(Seq("LARGE", "ECONOMY", "SMALL", "STANDARD",
        "PROMO").map(lit): _*), h($"id", 6, 5).cast("int") + 1).as("p_type"),
      (h($"id", 7, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + $"id" * 0.1).as("p_retailprice")), "part")

    write(spark.range(nCust).select($"id".as("c_custkey"),
      format_string("Customer#%09d", $"id").as("c_name"),
      h($"id", 8, 25).cast("int").as("c_nationkey"),
      (h($"id", 9, 999999) / 100.0).as("c_acctbal"),
      element_at(array(Seq("FURNITURE", "MACHINERY", "AUTOMOBILE",
        "BUILDING", "HOUSEHOLD").map(lit): _*),
        h($"id", 10, 5).cast("int") + 1).as("c_mktsegment")), "customer")

    val orderEpoch = lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00"))
    write(spark.range(nOrders).select($"id".as("o_orderkey"),
      key($"id", 11, nCust).as("o_custkey"),
      element_at(array(Seq("O", "P", "F").map(lit): _*),
        h($"id", 12, 3).cast("int") + 1).as("o_orderstatus"),
      (h($"id", 13, 45000000) / 100.0 + 1000.0).as("o_totalprice"),
      timestamp_micros(unix_micros(orderEpoch) +
        h($"id", 14, 2400) * day).as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
        h($"id", 15, 5).cast("int") + 1).as("o_orderpriority")), "orders")

    // ~4 lines per order: range over orders × explode 1..(1 + h%7)
    write(spark.range(nOrders)
      .select($"id".as("l_orderkey"),
        explode(sequence(lit(1), (h($"id", 16, 7) + 1).cast("int")))
          .as("l_linenumber"))
      .select($"l_orderkey",
        key(concat($"l_orderkey", lit("_"), $"l_linenumber"), 17, nPart)
          .as("l_partkey"),
        h(concat($"l_orderkey", lit("_"), $"l_linenumber"), 18, nSupp)
          .as("l_suppkey"),
        $"l_linenumber",
        // zipf mode: ~30% of lines share ONE quantity — a hot TIE in a
        // column rank-family operators ORDER BY (ext_spearman). Monotone
        // bucketing lands a whole tie group in one bucket by contract,
        // so this measures GroupedPrefix's hot-tie degeneracy (the r11
        // verdict's unmeasured spot); midrank semantics make the answer
        // well-defined regardless
        (if (zipfSkew)
          when(h(concat($"l_orderkey", $"l_linenumber"), 19, 10) < 3,
            lit(25L))
            .otherwise(h(concat($"l_orderkey", $"l_linenumber"), 19, 50) + 1)
        else h(concat($"l_orderkey", $"l_linenumber"), 19, 50) + 1)
          .cast("double").as("l_quantity"),
        (h(concat($"l_orderkey", $"l_linenumber"), 20, 10000000) / 100.0
          + 900.0).as("l_extendedprice"),
        (h(concat($"l_orderkey", $"l_linenumber"), 21, 11) / 100.0)
          .as("l_discount"),
        (h(concat($"l_orderkey", $"l_linenumber"), 22, 9) / 100.0)
          .as("l_tax"),
        element_at(array(Seq("A", "N", "R").map(lit): _*),
          h(concat($"l_orderkey", $"l_linenumber"), 23, 3).cast("int") + 1)
          .as("l_returnflag"),
        element_at(array(lit("O"), lit("F")),
          h(concat($"l_orderkey", $"l_linenumber"), 24, 2).cast("int") + 1)
          .as("l_linestatus"),
        timestamp_micros(unix_micros(orderEpoch) +
          h(concat($"l_orderkey", $"l_linenumber"), 25, 2500) * day)
          .as("l_shipdate")), "lineitem")

    val evEpoch = lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    write(spark.range(nEvents).select($"id".as("event_id"),
      timestamp_micros(unix_micros(evEpoch) +
        h($"id", 26, 30L * 86400L) * 1000000L +
        h($"id", 27, 1000000)).as("ts"),
      key($"id", 28, nUsers).as("user_id"),
      element_at(array(Seq("signup", "purchase", "view", "click",
        "error").map(lit): _*), h($"id", 29, 5).cast("int") + 1)
        .as("event_type"),
      (h($"id", 30, 56021) / 100.0).as("value"),
      format_string("{\"k\": %d}", h($"id", 31, 100)).as("props")),
      "events")

    // documents: hash-derived word sequences over the fixed vocab;
    // every 10th doc is a light perturbation of its predecessor (the
    // constant near-dup density real corpora carry)
    val words = array(vocab.map(lit): _*)
    def tok(seed: Column, j: Column, salt: Int): Column =
      if (heapsVocab > 0)
        // digits→letters keeps the token ALPHABETIC: operators that
        // gate on a word pattern (BPE's ^[a-z]+$) must see real words,
        // or the Heaps corpus silently starves them (caught by the
        // round-10 scale gate: zero BPE merges → ext_bpe_encode threw)
        concat(lit("w"), translate(
          pmod(xxhash64(seed, j, lit(salt)), lit(heapsVocab)).cast("string"),
          "0123456789", "abcdefghij"))
      else element_at(words,
        pmod(xxhash64(seed, j, lit(salt)), lit(20)).cast("int") + 1)
    def textOf(seed: Column, extraSalt: Int): Column =
      array_join(transform(
        sequence(lit(0), (h(seed, 32 + extraSalt, 80) + 8).cast("int")),
        j => tok(seed, j, 33 + extraSalt)), " ")
    // zipf mode: a fixed 16-token boilerplate PREFIX on ~20% of docs —
    // exactly two grid-aligned corpus-hot segments (segLen=8), the
    // shared-header/web-boilerplate hot-group shape; alphabetic tokens
    // so word-pattern-gated ops (BPE) still see them as words
    val boiler = (1 to 16).map(i =>
      "wboiler" + ('a' + (i - 1)).toChar).mkString(" ")
    def withBoiler(body: Column): Column =
      if (zipfSkew) when(h($"id", 40, 5) === 0,
        concat(lit(boiler), lit(" "), body)).otherwise(body)
      else body
    write(spark.range(nDocs).select($"id".as("doc_id"),
        withBoiler(when($"id" % 10 === 0 && $"id" > 0,
          concat(textOf($"id" - 1, 0), lit(" "),
            tok($"id", lit(0), 34)))
          .otherwise(textOf($"id", 0))).as("text"),
        when(h($"id", 35, 10) < 8, "en").otherwise(
          element_at(array(lit("de"), lit("fr")),
            h($"id", 36, 2).cast("int") + 1)).as("lang"),
        concat(lit("src"), h($"id", 37, 20)).as("source"))
      .withColumn("n_chars", length($"text").cast("long")), "documents")

    // embeddings: centroid(label) + noise — within-label cosine high,
    // cross-label low; label count scales, cluster size does not
    write(spark.range(nVecs).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(pmod($"id", lit(nLabels)), j, lit(38)), lit(1000))
          .cast("double") / 500.0 - 1.0) +
          (pmod(xxhash64($"id", j, lit(39)), lit(1000))
            .cast("double") / 1250.0 - 0.4)).cast("float")).as("embedding"),
      pmod($"id", lit(nLabels)).cast("int").as("label")), "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val m = args(1).toInt
    // optional third arg: "heaps" = realistic vocabulary V = 2000·√m;
    // "zipf" = the same Heaps vocabulary PLUS log-uniform hot keys and
    // boilerplate-prefixed documents (the hot-key skew corpus)
    val mode = if (args.length > 2) args(2) else ""
    require(mode == "" || mode == "heaps" || mode == "zipf",
      s"unknown corpus mode '$mode' (want heaps|zipf)")
    val heapsVocab =
      if (mode == "heaps" || mode == "zipf")
        (2000L * math.ceil(math.sqrt(m.toDouble)).toLong)
      else 0L
    val spark = LocalSession.build(LocalSession.cpus)
    generate(spark, outDir, m, heapsVocab, zipfSkew = mode == "zipf")
    println(s"""{"generated":"$outDir","multiplier":$m,"heaps_vocab":$heapsVocab,"zipf":${mode == "zipf"}}""")
    spark.stop()
  }

  private implicit class Dollar(private val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}

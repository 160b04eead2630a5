package graft

import graft.functions.{CustomExpressions, DamerauLevenshteinKernel}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable
import scala.util.Random

/** The unrestricted Damerau–Levenshtein kernel against (a) goldens
  * computed with DuckDB's native `damerau_levenshtein` (the independent
  * implementation the j29 oracle gate cross-checks at data scale) and
  * (b) a test-side breadth-first edit-sequence search — a completely
  * different computation of the same metric: true DL is the MINIMUM
  * NUMBER of insert/delete/substitute/adjacent-transpose operations,
  * so shortest-path search over edit states must agree with the
  * Lowrance–Wagner matrix on every pair. */
class DamerauLevenshteinSpec extends SparkSpec {

  private def dl(a: String, b: String): Int =
    DamerauLevenshteinKernel.distance(
      UTF8String.fromString(a), UTF8String.fromString(b))

  test("goldens derived from DuckDB damerau_levenshtein") {
    val goldens = Seq(
      // the OSA discriminator: restricted OSA gives 3, true DL gives 2
      // (CA -> AC -> ABC: transposed substring edited again)
      ("CA", "ABC", 2),
      ("ab", "ba", 1),
      ("kitten", "sitting", 3), // no transpositions: plain Levenshtein
      ("", "abc", 3),
      ("abc", "", 3),
      ("", "", 0),
      ("same", "same", 0),
      ("MARTHA", "MARHTA", 1),
      ("a cat", "an act", 2),
      ("a cat", "an abct", 3),
      ("teusday", "tuesday", 1),
      ("Customer#12", "Customer#21", 1),
      ("xyz", "zyx", 2),
      ("abcdef", "badcfe", 3),
      ("12345", "21435", 2),
      ("aab", "baa", 2),
      ("abab", "baba", 2),
      ("spark", "sprak", 1),
      ("hello", "ehllo", 1),
      ("transpose", "tranpsoes", 2))
    for ((a, b, want) <- goldens) {
      assert(dl(a, b) == want, s"'$a' vs '$b'")
      assert(dl(b, a) == want, s"symmetry: '$b' vs '$a'")
    }
  }

  /** Independent reference: BFS over edit states. Intermediate strings
    * only ever need characters drawn from a ∪ b (inserting any other
    * character can be replaced by inserting the target character
    * directly), and no shortest edit sequence passes through a string
    * longer than max(|a|,|b|) + 1, so the state space is finite. */
  private def refBfs(a: String, b: String): Int = {
    if (a == b) return 0
    val alphabet = (a + b).toSet.toSeq
    val maxLen = math.max(a.length, b.length) + 1
    val seen = mutable.Set[String](a)
    var frontier = List(a)
    var depth = 0
    while (true) {
      depth += 1
      val next = mutable.ListBuffer[String]()
      for (s <- frontier) {
        val cands = mutable.ListBuffer[String]()
        for (i <- 0 until s.length) // delete
          cands += s.substring(0, i) + s.substring(i + 1)
        for (i <- 0 until s.length; c <- alphabet if c != s(i)) // substitute
          cands += s.substring(0, i) + c + s.substring(i + 1)
        if (s.length < maxLen)
          for (i <- 0 to s.length; c <- alphabet) // insert
            cands += s.substring(0, i) + c + s.substring(i)
        for (i <- 0 until s.length - 1 if s(i) != s(i + 1)) // transpose
          cands += s.substring(0, i) + s(i + 1) + s(i) + s.substring(i + 2)
        for (t <- cands) {
          if (t == b) return depth
          if (!seen(t)) { seen += t; next += t }
        }
      }
      frontier = next.toList
      if (frontier.isEmpty) return Int.MaxValue // unreachable (cannot happen)
    }
    -1 // unreachable
  }

  test("randomized parity with a BFS shortest-edit-sequence reference") {
    val rnd = new Random(20260815)
    def randStr() = {
      val n = rnd.nextInt(6)
      (0 until n).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    }
    for (_ <- 1 to 300) {
      val (a, b) = (randStr(), randStr())
      assert(dl(a, b) == refBfs(a, b), s"'$a' vs '$b'")
    }
  }

  /** The UNTRIMMED Lowrance–Wagner DP, verbatim as the kernel computed
    * it before the common-affix trim (r12 optimization) — the trimmed
    * kernel must be value-identical to it everywhere. This reference is
    * itself pinned against the BFS shortest-edit-sequence oracle by the
    * randomized test above (the kernel and this DP were one function
    * when that test was written). */
  private def refDpUntrimmed(a: String, b: String): Int = {
    val l1 = a.length
    val l2 = b.length
    if (l1 == 0) return l2
    if (l2 == 0) return l1
    val inf = l1 + l2
    val d = Array.ofDim[Int](l1 + 2, l2 + 2)
    d(0)(0) = inf
    for (i <- 0 to l1) { d(i + 1)(0) = inf; d(i + 1)(1) = i }
    for (j <- 0 to l2) { d(0)(j + 1) = inf; d(1)(j + 1) = j }
    val da = mutable.Map.empty[Char, Int].withDefaultValue(0)
    for (i <- 1 to l1) {
      var db = 0
      for (j <- 1 to l2) {
        val k = da(b.charAt(j - 1))
        val l = db
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) { db = j; 0 } else 1
        d(i + 1)(j + 1) = Seq(
          d(i)(j) + cost, d(i + 1)(j) + 1, d(i)(j + 1) + 1,
          d(k)(l) + (i - k - 1) + 1 + (j - l - 1)).min
      }
      da(a.charAt(i - 1)) = i
    }
    d(l1 + 1)(l2 + 1)
  }

  test("affix trimming is exact: exhaustive core strings under shared affixes") {
    val alpha = Seq('a', 'b', 'c')
    val cores: Seq[String] = (0 to 3).flatMap { n =>
      (0 until math.pow(3, n).toInt).map { x =>
        var (v, s) = (x, "")
        (0 until n).foreach { _ => s += alpha(v % 3); v /= 3 }
        s
      }
    }
    // affixes chosen to stress the trim boundary: same chars as the
    // cores (so a transposition COULD in principle cross into the
    // trimmed region) plus a disjoint-alphabet control
    val affixes = Seq(("", ""), ("a", ""), ("", "a"), ("ab", "ba"),
      ("ba", "ab"), ("xy", ""), ("", "xy"), ("aa", "aa"))
    for (ca <- cores; cb <- cores; (p, s) <- affixes) {
      val (wa, wb) = (p + ca + s, p + cb + s)
      assert(dl(wa, wb) == refDpUntrimmed(wa, wb),
        s"'$wa' vs '$wb' (core '$ca'/'$cb', affix '$p'/'$s')")
    }
  }

  test("expression surface: Column API, SQL registration, null propagation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(("ab", "ba"), ("CA", "ABC"), (null, "x"))
      .toDF("a", "b")
    val got = df.select(
      CustomExpressions.damerau_levenshtein(col("a"), col("b")).as("d"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getInt(0))
    assert(got.toSeq == Seq(1, 2, null))
    df.createOrReplaceTempView("dl_pairs")
    val sql = spark.sql(
      "SELECT damerau_levenshtein(a, b) AS d FROM dl_pairs WHERE a IS NOT NULL")
      .collect().map(_.getInt(0))
    assert(sql.toSeq == Seq(1, 2))
  }

  test("non-latin code points fall through to the map tracker") {
    // characters >= 256 exercise the HashMap fallback of the last-seen
    // alphabet tracker; transposition of two CJK chars is one edit
    assert(dl("日本", "本日") == 1)
    assert(dl("日x本", "日本") == 1)
  }
}

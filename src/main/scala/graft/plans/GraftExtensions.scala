package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DamerauLevenshtein, DmsToDecimal, DotProduct, FuzzRatio, FuzzWRatio, JaroWinklerBp, ZValue}

/** Session-extension installer: makes the engine's custom Catalyst
  * expressions available to ANY session — including ones the library
  * never sees being built — via plain config:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  * }}}
  *
  * `LocalSession.shared` sets it for every graft session. `injectFunction`
  * registrations survive into every session cloned from the configured
  * builder, thrift-server sessions included, so SQL-only users get
  * `dms_to_decimal` / `fuzz_ratio` / `dot_product` without any Scala
  * entry point. The expressions are the same codegen'd Catalyst classes
  * the Column API uses — one implementation, two surfaces.
  *
  * Reference semantics: dms_to_decimal ≙ utils/parse.py dms2dd;
  * fuzz_ratio ≙ thefuzz ratio used by the pairing heuristics;
  * dot_product backs the similarity operators. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  // arity-check inside the builder: resolution surfaces the message as
  // an analysis error instead of an IndexOutOfBounds internal failure
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == n,
        s"$name requires exactly $n argument(s), got ${exprs.length}")
      build(exprs)
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer seam: length prefilters implied by fuzzy predicates
    // (see SimilarityPruning) — runs in the operator-optimization batch
    ext.injectOptimizerRule(_ => SimilarityPruning)
    // optimizer seam: plain relational keyed interval-overlap joins
    // rewrite to the native operator (see IntervalJoinRewrite)
    ext.injectOptimizerRule(_ => IntervalJoinRewrite)
    // planner seams: the whole-operator extensions (custom LogicalPlan →
    // custom physical operator) for the native as-of and interval joins
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
    ext.injectPlannerStrategy(_ => IntervalJoinStrategy)
    ext.injectFunction((
      FunctionIdentifier("dms_to_decimal"),
      info("dms_to_decimal",
        "dms_to_decimal(str) - degrees-minutes-seconds coordinate to decimal degrees"),
      arity("dms_to_decimal", 1)(exprs => DmsToDecimal(exprs.head))))
    ext.injectFunction((
      FunctionIdentifier("fuzz_ratio"),
      info("fuzz_ratio",
        "fuzz_ratio(a, b) - Levenshtein-based similarity ratio in [0, 100]"),
      arity("fuzz_ratio", 2)(exprs => FuzzRatio(exprs(0), exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("fuzz_wratio"),
      info("fuzz_wratio",
        "fuzz_wratio(a, b) - thefuzz WRatio weighted similarity in [0, 100]"),
      arity("fuzz_wratio", 2)(exprs => FuzzWRatio(exprs(0), exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product",
        "dot_product(a, b) - dot product of two numeric arrays as double"),
      arity("dot_product", 2)(exprs => DotProduct(exprs(0), exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler_bp"),
      info("jaro_winkler_bp",
        "jaro_winkler_bp(a, b) - exact Jaro-Winkler similarity in basis points [0, 10000]"),
      arity("jaro_winkler_bp", 2)(exprs => JaroWinklerBp(exprs(0), exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("damerau_levenshtein"),
      info("damerau_levenshtein",
        "damerau_levenshtein(a, b) - unrestricted Damerau-Levenshtein edit distance"),
      arity("damerau_levenshtein", 2)(exprs =>
        DamerauLevenshtein(exprs(0), exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("zvalue"),
      info("zvalue",
        "zvalue(x, y, bits) - Morton z-order interleave of two longs (bits must be a literal)"),
      arity("zvalue", 3)(exprs => {
        val bits = exprs(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException(
            "zvalue(x, y, bits): bits must be an integer literal")
        }
        ZValue(exprs(0), exprs(1), bits)
      })))
    ext.injectFunction((
      FunctionIdentifier("hilbert_d"),
      info("hilbert_d",
        "hilbert_d(x, y, bits) - Hilbert-curve distance of a 2-D grid point (bits must be a literal)"),
      arity("hilbert_d", 3)(exprs => {
        val bits = exprs(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException(
            "hilbert_d(x, y, bits): bits must be an integer literal")
        }
        graft.functions.HilbertD(exprs(0), exprs(1), bits)
      })))
    ext.injectFunction((
      FunctionIdentifier("hilbert_d3"),
      info("hilbert_d3",
        "hilbert_d3(x, y, z, bits) - 3-D Hilbert-curve distance of a grid point (bits must be a literal)"),
      arity("hilbert_d3", 4)(exprs => {
        val bits = exprs(3) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException(
            "hilbert_d3(x, y, z, bits): bits must be an integer literal")
        }
        graft.functions.HilbertD3(exprs(0), exprs(1), exprs(2), bits)
      })))
    ext.injectFunction((
      FunctionIdentifier("zvalue3"),
      info("zvalue3",
        "zvalue3(x, y, z, bits) - 3-D Morton z-order interleave of three longs (bits must be a literal)"),
      arity("zvalue3", 4)(exprs => {
        val bits = exprs(3) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException(
            "zvalue3(x, y, z, bits): bits must be an integer literal")
        }
        graft.functions.ZValue3(exprs(0), exprs(1), exprs(2), bits)
      })))
  }
}

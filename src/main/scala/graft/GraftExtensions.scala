package graft

import org.apache.spark.sql.{GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** SQL-surface registration for graft's native expressions, so
  * `spark.sql("SELECT normalize_nfkc(s) ...")` works like any builtin.
  *
  * Two entry points:
  *  - cluster config: `spark.sql.extensions=graft.GraftExtensions`
  *    (standard SparkSessionExtensions injection at session build);
  *  - library call: `GraftExtensions.register(spark)` for an
  *    already-running session (tests, notebooks).
  *
  * Both install the same functions and the same two lists:
  * [[GraftExtensions.optimizerRules]] (`BoundedLevenshtein`,
  * `JaroPrefilter`, `LocalSort`) and [[GraftExtensions.strategies]]
  * (`AsofStrategy`). A rule added to a list reaches both entry points.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    GraftExtensions.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}

object GraftExtensions {

  val optimizerRules: Seq[Rule[LogicalPlan]] =
    Seq(plans.BoundedLevenshtein, plans.JaroPrefilter, plans.LocalSort)

  val strategies: Seq[SparkStrategy] = Seq(plans.AsofStrategy)

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("normalize_nfkc",
      info("normalize_nfkc", "_FUNC_(str) - Unicode NFKC normalization."),
      (args: Seq[Expression]) => text.NormalizeNFKC(args.head)),
    ("html_unescape",
      info("html_unescape", "_FUNC_(str) - Decode HTML entities."),
      (args: Seq[Expression]) => text.HtmlUnescape(args.head)),
    ("dot_product_d",
      info("dot_product_d", "_FUNC_(a, b) - Dot product of two double arrays."),
      (args: Seq[Expression]) => ml.DotProductD(args(0), args(1))),
    ml.KmvFunctions.sqlFunction,
    ml.Bloom.sqlFunction,
    ("char_entropy_unat",
      info("char_entropy_unat", "_FUNC_(str) - Per-code-point Shannon " +
        "entropy in micro-nats (integerized per distinct count)."),
      (args: Seq[Expression]) => text.CharEntropyUnat(args.head)),
    ("jaro_winkler",
      info("jaro_winkler", "_FUNC_(a, b) - Jaro-Winkler string similarity " +
        "(boost threshold 0.7, prefix weight 0.1, prefix cap 4)."),
      (args: Seq[Expression]) => text.JaroWinkler(args(0), args(1))),
    ("lemma_tokens",
      info("lemma_tokens", "_FUNC_(str) - Tokenize + stopword-filter + suffix-lemmatize."),
      (args: Seq[Expression]) => text.LemmaTokens(args.head)),
    ("porter2_stem",
      info("porter2_stem", "_FUNC_(token) - Porter2 (English Snowball) stem."),
      (args: Seq[Expression]) => text.Porter2Stem(args.head)),
    ("utf16_length",
      info("utf16_length", "_FUNC_(str) - Length in UTF-16 code units."),
      (args: Seq[Expression]) => text.Utf16Length(args.head)),
    ("splitmix64",
      info("splitmix64", "_FUNC_(x) - splitmix64 finalizer of a 64-bit key " +
        "(Steele, Lea & Flood 2014; the q159 sampling hash)."),
      (args: Seq[Expression]) => rel.SplitMix64(args.head)),
    ("ln_shared",
      info("ln_shared", "_FUNC_(n) - Engine-neutral ln of a positive " +
        "BIGINT (IEEE-exact op sequence, bit-identical to the DuckDB " +
        "oracle rendering; NULL below 1)."),
      (args: Seq[Expression]) => graft.functions.LnShared(args.head)),
    ("simhash_agg",
      info("simhash_agg", "_FUNC_(hash, weight) - 64-bit weighted SimHash aggregate."),
      (args: Seq[Expression]) =>
        ml.SimhashAgg(args(0), args(1)).toAggregateExpression()))

  /** Register into a live session: function registry, optimizer rules
    * and planner strategies (experimental.extraOptimizations is the
    * post-build hook for Rule[LogicalPlan]; it runs as a final optimizer
    * batch). Idempotent: a rule or strategy already there is not added
    * again. */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (name, inf, builder) =>
      GraftSqlBridge.registerFunction(spark, name, inf, builder)
    }
    val x = spark.experimental
    x.extraOptimizations ++= optimizerRules.filterNot(x.extraOptimizations.contains)
    x.extraStrategies ++= strategies.filterNot(x.extraStrategies.contains)
  }
}

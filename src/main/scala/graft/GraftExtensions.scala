package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.expressions.{BigramHashCounts, C4CleanStats, C4CleanTokens, DamerauLevenshtein, DeletionVariantHashes, DotProduct, SimHash60, SubwordCount, TokenCount, TokenTermCount}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions for the SQL surface, so `spark.sql("SELECT dot_product(a,b)")`
  * works anywhere the Scala Column API does.
  *
  *   GraftSession.builder(cpus).withExtensions(new GraftExtensions) ...
  *   // or: spark.conf spark.sql.extensions=graft.GraftExtensions
  *   // or on a live session: GraftExtensions.register(spark)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    // the 5-string form (className, db, name, usage, extended): the
    // 3-string ctor is (className, db, NAME) — it put the function name
    // in the db slot and the usage text in the NAME slot, so DESCRIBE
    // FUNCTION showed the doc line as the function's name and no usage
    // at all (r18 self-review). Spark asserts a non-empty usage embeds
    // _FUNC_, so the leading "name(" is rewritten to the placeholder.
    new ExpressionInfo("graft.functions.expressions", null, name,
      usage.replaceFirst(
        "^" + java.util.regex.Pattern.quote(name), "_FUNC_"), "")

  private def requireArity(name: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name,
          "expectedNum" -> n.toString,
          "actualNum" -> args.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("dot_product",
      info("dot_product", "dot_product(a, b) - dot product of two double arrays"),
      (args: Seq[Expression]) => {
        requireArity("dot_product", args, 2)
        DotProduct(args(0), args(1))
      }),
    ("cosine_sim",
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two double arrays"),
      (args: Seq[Expression]) => {
        requireArity("cosine_sim", args, 2)
        import org.apache.spark.sql.catalyst.expressions.{Divide, Multiply, Sqrt}
        Divide(
          DotProduct(args(0), args(1)),
          Multiply(Sqrt(DotProduct(args(0), args(0))),
                   Sqrt(DotProduct(args(1), args(1)))))
      }),
    ("subword_count",
      info("subword_count",
        "subword_count(s) - greedy longest-match subword pieces in s"),
      (args: Seq[Expression]) => {
        requireArity("subword_count", args, 1)
        SubwordCount(args(0))
      }),
    ("damerau_levenshtein",
      info("damerau_levenshtein",
        "damerau_levenshtein(a, b) - unrestricted Damerau-Levenshtein distance"),
      (args: Seq[Expression]) => {
        requireArity("damerau_levenshtein", args, 2)
        DamerauLevenshtein(args(0), args(1))
      }),
    ("deletion_variant_hashes",
      info("deletion_variant_hashes",
        "deletion_variant_hashes(s, seed) - sorted-unique 64-bit bucket " +
          "keys of s's <=2-character-deletion neighborhood (SymSpell)"),
      (args: Seq[Expression]) => {
        requireArity("deletion_variant_hashes", args, 2)
        DeletionVariantHashes(args(0), args(1))
      }),
    ("token_count",
      info("token_count",
        "token_count(s) - whitespace-token count, = size(split(s, ' '))"),
      (args: Seq[Expression]) => {
        requireArity("token_count", args, 1)
        TokenCount(args(0))
      }),
    ("token_term_count",
      info("token_term_count",
        "token_term_count(s, term) - occurrences of term among s's " +
          "whitespace tokens"),
      (args: Seq[Expression]) => {
        requireArity("token_term_count", args, 2)
        TokenTermCount(args(0), args(1))
      }),
    ("simhash60",
      info("simhash60",
        "simhash60(s) - 60-bit SimHash of s's whitespace-token multiset"),
      (args: Seq[Expression]) => {
        requireArity("simhash60", args, 1)
        SimHash60(args(0))
      }),
    ("bigram_hash_counts",
      info("bigram_hash_counts",
        "bigram_hash_counts(s) - array<struct<h1,h2,c>> of s's distinct " +
          "adjacent-token pairs, keyed like xxhash64(w1)/xxhash64(w1,w2)"),
      (args: Seq[Expression]) => {
        requireArity("bigram_hash_counts", args, 1)
        BigramHashCounts(args(0))
      }),
    ("c4_clean_stats",
      info("c4_clean_stats",
        "c4_clean_stats(s) - struct<clean_text,n_lines,n_lines_kept," +
          "n_tokens_clean> of the C4-style line clean (PII scrub + " +
          "boilerplate/min-token line gates) in one fused pass"),
      (args: Seq[Expression]) => {
        requireArity("c4_clean_stats", args, 1)
        C4CleanStats(args(0))
      }),
    ("c4_clean_tokens",
      info("c4_clean_tokens",
        "c4_clean_tokens(s) - n_tokens_clean of the C4-style line clean " +
          "alone (the doc-gate twin of c4_clean_stats, no text assembly)"),
      (args: Seq[Expression]) => {
        requireArity("c4_clean_tokens", args, 1)
        C4CleanTokens(args(0))
      })
  )

  /** Register on an already-built session (tests, spark-shell). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

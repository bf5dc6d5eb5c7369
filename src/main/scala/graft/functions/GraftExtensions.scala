package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions, so `spark.sql("SELECT cosine_similarity
  * (a, b) ...")` works in any session created with
  *
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  *
  * For an already-running session, `GraftExtensions.register(spark)`
  * installs the same functions as temp functions.
  *
  * Among them is `hash60(s[, half])`, the md5→60-bit kernel (`Hash60`):
  * the top 60 bits of md5(s)'s digest bytes 0–7 (half 0, the default) or
  * 8–15 (half 1), equal to `CAST(conv(substr(md5(s), 1 | 17, 15), 16, 10)
  * AS BIGINT)`. `Tables` registers it alone on sessions built without the
  * extension.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
    e.injectPlannerStrategy(_ => graft.plans.GraftStrategies)
    e.injectOptimizerRule(_ => graft.plans.TopKRewrite)
  }
}

object GraftExtensions {
  private def intLitArg(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private[functions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" -> ((es: Seq[Expression]) => CosineSimilarity(es(0), es(1))),
    "simhash60" -> ((es: Seq[Expression]) => SimHash60(es(0))),
    "minhash_sig" -> ((es: Seq[Expression]) => MinHashShingleSig(es(0))),
    // hash60(s[, half]) — top 60 bits of md5(s), half 0 (default) or 1.
    "hash60" -> ((es: Seq[Expression]) => Hash60(es(0),
      if (es.length > 1) intLitArg(es(1), "hash60 half") else 0)),
    // shingles(text[, n]) — distinct n-word shingles (default n=3).
    "shingles" -> ((es: Seq[Expression]) => ShingleArray(es(0),
      if (es.length > 1) intLitArg(es(1), "shingles n") else 3)),
    // lsh_bucket(embedding[, nPlanes]) — SRP bucket id (default 4 planes).
    "lsh_bucket" -> ((es: Seq[Expression]) => LshBucket(es(0),
      if (es.length > 1) intLitArg(es(1), "lsh_bucket nPlanes") else 4)),
    // space_saving_topk(key, k, capacity) — k/capacity must be int literals.
    "space_saving_topk" -> ((es: Seq[Expression]) =>
      SpaceSavingTopK(es(0), intLitArg(es(1), "space_saving_topk k"),
        intLitArg(es(2), "space_saving_topk capacity"))
        .toAggregateExpression()))

  /** Register the named functions (all of them when none is named) on a
    * live session (temp-function path). */
  def register(spark: SparkSession, names: String*): Unit =
    builders.filter { case (name, _) => names.isEmpty || names.contains(name) }
      .foreach { case (name, b) =>
        org.apache.spark.sql.graft.shims.registerFunction(spark, name, b)
      }
}

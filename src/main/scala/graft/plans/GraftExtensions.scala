package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, StringType}

/** Engine optimizer + function extensions (SURVEY §4, §7.2 M5).
  *
  * [[DerivedTokenPrefilter]]: a token-count predicate
  * `size(regexp_extract_all(text, TokenPattern, 1)) > n` cannot reach
  * the parquet scan (UDF-shaped), and the regex is the most expensive
  * scalar in the engine. Every token consumes ≥ 1 character, so
  * `token_count(text) ≤ length(text)` — which makes
  * `length(text) > n` a sound derived pre-filter: cheap (no regex),
  * evaluated first in the conjunction, and it short-circuits the
  * regex for every too-short row. The q20 query adds the analogous
  * `n_chars` guard by hand; this rule derives it for ANY
  * token-count predicate, including user-written ones.
  *
  * The kernel expressions are also registered as SQL FUNCTIONS, so
  * the whole engine surface is reachable from `spark.sql(...)` —
  * e.g. `SELECT cosine_sim(a, b)`, `shingle_hashes(text, 3)` — not
  * only from the Column API.
  *
  * Registered via `spark.sql.extensions=graft.plans.GraftExtensions`
  * (set in [[graft.GraftSession.local]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import graft.ops.expressions._
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  private def litInt(fn: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    // exact — a long literal >= 2^31 must error, not wrap to a
    // silently wrong kernel parameter
    case Literal(v: Long, _)          => java.lang.Math.toIntExact(v)
    case other => throw new IllegalArgumentException(
      s"$fn: parameter must be an integer literal, got $other")
  }

  private def inject(e: SparkSessionExtensions, name: String, arity: String)(
      builder: Seq[Expression] => Expression): Unit =
    e.injectFunction((new FunctionIdentifier(name),
      new ExpressionInfo("graft", name),
      (args: Seq[Expression]) => {
        require(args.length == arity.length,
          s"$name expects ${arity.length} arguments (${arity}), got ${args.length}")
        builder(args)
      }))

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => DerivedTokenPrefilter)
    // rewrite user-written row_number+filter top-k onto the custom
    // operator (graft.plans.WindowTopKRewrite)
    e.injectOptimizerRule(_ => WindowTopKRewrite)
    e.injectPlannerStrategy(_ => TopKStrategy)
    e.injectPlannerStrategy(_ => AsOfStrategy)
    // arity string: one char per arg (e=expression, i=int literal)
    inject(e, "text_poly_hash", "e")(a => TextPolyHash(a.head))
    inject(e, "nfc_normalize", "e")(a => NfcNormalize(a.head))
    inject(e, "token_hashes", "e")(a => TokenHashes(a.head))
    inject(e, "shingle_hashes", "ei")(a =>
      ShingleHashes(a.head, litInt("shingle_hashes", a(1))))
    inject(e, "minhash_sig", "ei")(a =>
      MinHashSig(a.head, litInt("minhash_sig", a(1))))
    inject(e, "hash_embed", "ei")(a =>
      HashEmbed(a.head, litInt("hash_embed", a(1))))
    inject(e, "feature_embed", "ei")(a =>
      FeatureEmbed(a.head, litInt("feature_embed", a(1))))
    inject(e, "cosine_sim", "ee")(a => CosineSim(a.head, a(1)))
    inject(e, "simhash_bands", "e")(a => SimHashBands(a.head))
    inject(e, "text_stats", "e")(a => TextStats(a.head))
    inject(e, "char_entropy", "e")(a => CharEntropy(a.head))
    inject(e, "syllable_count", "e")(a => SyllableCount(a.head))
    inject(e, "srp_bands", "eii")(a =>
      SrpBands(a.head, litInt("srp_bands", a(1)), litInt("srp_bands", a(2))))
    inject(e, "winnow_fingerprints", "eii")(a =>
      WinnowFingerprints(a.head, litInt("winnow_fingerprints", a(1)),
        litInt("winnow_fingerprints", a(2))))
    inject(e, "pq_encode", "eiii")(a =>
      PqEncode(a.head, litInt("pq_encode", a(1)), litInt("pq_encode", a(2)),
        litInt("pq_encode", a(3))))
    // table-generating (UDTF): SELECT ... LATERAL VIEW
    //   chunk_explode(text, 16) c AS pos, chunk
    inject(e, "chunk_explode", "ei")(a =>
      ChunkExplode(a.head, litInt("chunk_explode", a(1))))
  }
}

object DerivedTokenPrefilter extends Rule[LogicalPlan] {

  private val TokenPattern = graft.ops.TextOps.TokenPattern

  private object TokenCountGt {
    /** Matches size(regexp_extract_all(text, TokenPattern, 1)) > lit. */
    def unapply(e: Expression): Option[(Expression, Literal)] = e match {
      case GreaterThan(
            Size(RegExpExtractAll(txt, Literal(pat, StringType), _), _),
            l @ Literal(_, IntegerType))
          if pat != null && pat.toString == TokenPattern =>
        Some((txt, l))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      var changed = false
      val newCond = cond.transformUp {
        case tc @ TokenCountGt(txt, n)
            // idempotence: skip if the guard is already present
            // anywhere in this filter's condition
            if !cond.exists {
              case GreaterThan(Length(t2), n2) =>
                t2.semanticEquals(txt) && n2 == n
              case _ => false
            } =>
          changed = true
          And(GreaterThan(Length(txt), n), tc)
      }
      if (changed) Filter(newCond, child) else f
  }
}

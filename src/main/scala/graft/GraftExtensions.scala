package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.TextExpressions.{MinHashSignature, SimHash, Tokens, WinnowFingerprint, WordShingles}

/** Session extension exposing graft's custom Catalyst expressions to
  * SQL. Every [[GraftSession.builder]] session installs it through
  * `spark.sql.extensions=graft.GraftExtensions`; a session built
  * elsewhere needs the same setting or
  * `.withExtensions(new GraftExtensions)`:
  *
  * {{{
  * SELECT graft_word_shingles(text, 3) FROM documents
  * SELECT graft_minhash_signature(graft_word_shingles(text, 3), 32) ...
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other =>
      throw new IllegalArgumentException(s"$fn expects an integer literal, got: $other")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions.TextExpressions", null, name, usage, "")

  private[graft] val descriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_tokens"),
      info("graft_tokens", "graft_tokens(str) - lowercased whitespace tokens"),
      (es: Seq[Expression]) => Tokens(es.head)),
    (FunctionIdentifier("graft_word_shingles"),
      info("graft_word_shingles",
        "graft_word_shingles(str, n) - distinct word n-gram shingles"),
      (es: Seq[Expression]) => WordShingles(es.head, intLit(es(1), "graft_word_shingles"))),
    (FunctionIdentifier("graft_minhash_signature"),
      info("graft_minhash_signature",
        "graft_minhash_signature(arr, k) - k-way MinHash signature of a string array"),
      (es: Seq[Expression]) =>
        MinHashSignature(es.head, intLit(es(1), "graft_minhash_signature"))),
    (FunctionIdentifier("graft_simhash"),
      info("graft_simhash",
        "graft_simhash(arr) - 64-bit SimHash of a token array (bitwise majority)"),
      (es: Seq[Expression]) => SimHash(es.head)),
    (FunctionIdentifier("graft_winnow_fingerprint"),
      info("graft_winnow_fingerprint",
        "graft_winnow_fingerprint(str, k, w) - MOSS winnowing fingerprints (k-gram, window w)"),
      (es: Seq[Expression]) => WinnowFingerprint(es.head,
        intLit(es(1), "graft_winnow_fingerprint"), intLit(es(2), "graft_winnow_fingerprint"))),
  )
}

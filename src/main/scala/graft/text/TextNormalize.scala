package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit

/** Pure-Spark text normalization replacing the reference's spark-nlp
  * pipeline (reference Grounding.scala:45–108: DocumentAssembler →
  * Tokenizer(split - / : , ;) → Tokenizer(split : , ;) → Normalizer
  * (lowercase, strip non-word) → StopWordsCleaner (case-sensitive) →
  * Normalizer → Stemmer → Finisher).
  *
  * Each key is one call into a Scala kernel (LabelKeyKernel), wrapped as
  * a native codegen'd Catalyst expression (LabelKeyExpression): the
  * kernel replaces a per-row tree of about a dozen higher-order column
  * expressions (translate / split / filter / array_except / transform /
  * regexp_replace / porter_stem / array_distinct / array_sort /
  * array_join) with byte-identical keys. Tokenization is a simple
  * split-char model rather than spark-nlp's annotator grammar: same
  * capability, deliberately simpler; key semantics (LT/TT, below) are
  * preserved exactly.
  *
  * Two key flavors drive the grounding joins (reference
  * Grounding.scala:33–34, 367–387):
  *  - LT ("label terms"): split on whitespace and - / : , ; → drop stop
  *    words (case-sensitive) → lowercase + strip non-alphanumerics → stem →
  *    dedup → sort → concat. Order-insensitive: synonym phrasing variants
  *    collide to the same key.
  *  - TT ("token terms"): split on whitespace and : , ; (dashes/slashes
  *    kept inside tokens) → lowercase + strip non-alphanumerics → concat in
  *    order. Order-sensitive: for gene symbols and chemical codes where
  *    token order is meaning-bearing.
  * Both first transliterate Greek letters to Latin (reference
  * spark/Helpers.scala:94–96: "α-synuclein" must match "a-synuclein"),
  * and lowercase with Spark's own `lower` case mapping.
  */
object TextNormalize {

  val LabelKeyType = "LT"
  val TokenKeyType = "TT"

  /** Google stop word list (public:
    * https://meta.wikimedia.org/wiki/Stop_word_list/google_stop_word_list),
    * as used by the reference (Grounding.scala:19–31) — matched
    * case-sensitively against raw tokens, so the capitalized variants and
    * the bare "a"/"i" are included explicitly.
    */
  val stopWords: Seq[String] = {
    val base = (
      "about above after again against all am an and any are aren't as at be because " +
        "been before being below between both but by can't cannot could couldn't did didn't do does doesn't doing don't down " +
        "during each few for from further had hadn't has hasn't have haven't having he he'd he'll he's her here here's hers " +
        "herself him himself his how how's i'd i'll i'm i've if in into is isn't it it's its itself let's me more most mustn't " +
        "my myself no nor not of off on once only or other ought our ours ourselves out over own same shan't she she'd she'll " +
        "she's should shouldn't so some such than that that's the their theirs them themselves then there there's these they " +
        "they'd they'll they're they've this those through to too under until up very was wasn't we we'd we'll we're we've " +
        "were weren't what what's when when's where where's which while who who's whom why why's with won't would wouldn't " +
        "you you'd you'll you're you've your yours yourself yourselves").split(" ").toSeq
    Seq("a", "i") ++ base ++ base.map(_.capitalize)
  }

  /** Order-insensitive stemmed key (reference Grounding.scala:377–382). */
  def ltKey(text: Column): Column = keyFor(text, lit(LabelKeyType))

  /** Order-sensitive token key (reference Grounding.scala:383–385). */
  def ttKey(text: Column): Column = keyFor(text, lit(TokenKeyType))

  /** Key selected by a per-row key-type discriminator column: null for a
    * null text or a key type other than LT/TT.
    */
  def keyFor(text: Column, keyType: Column): Column = LabelKeyExpression(text, keyType)
}

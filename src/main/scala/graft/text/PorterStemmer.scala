package graft.text

/** English Porter stemmer, implemented from the published algorithm
  * (M.F. Porter, "An algorithm for suffix stripping", Program 14(3), 1980;
  * the rule set below follows the author's canonical revision with the
  * bli→ble / logi→log amendments).
  *
  * This replaces the spark-nlp `Stemmer` annotator the reference depends on
  * (reference Grounding.scala:84–87) — the only piece of the reference's
  * NLP normalization that isn't expressible as Spark SQL expressions. It is
  * pure and allocation-light; the label-key kernel
  * (graft.text.LabelKeyKernel) calls it per token, and StemArrayExpression
  * stems a whole token array per call.
  */
object PorterStemmer {

  def stem(word: String): String = {
    if (word.length <= 2) return word
    // the algorithm is defined over lowercase a–z; leave anything else as-is
    var i = 0
    while (i < word.length) {
      val ch = word.charAt(i)
      if (ch < 'a' || ch > 'z') return word
      i += 1
    }
    new Impl(word).run()
  }

  private final class Impl(word: String) {
    private val b: Array[Char] = word.toCharArray
    private var k: Int = b.length - 1 // last index of the current stem
    private var j: Int = 0            // index set by ends()

    private def cons(i: Int): Boolean = b(i) match {
      case 'a' | 'e' | 'i' | 'o' | 'u' => false
      case 'y'                         => if (i == 0) true else !cons(i - 1)
      case _                           => true
    }

    /** measure m of b[0..j]: number of VC sequences in [C](VC)^m[V]. */
    private def m(): Int = {
      var n = 0
      var i = 0
      while (i <= j && cons(i)) i += 1
      if (i > j) return 0
      i += 1
      while (true) {
        while (i <= j && !cons(i)) i += 1
        if (i > j) return n
        i += 1
        n += 1
        while (i <= j && cons(i)) i += 1
        if (i > j) return n
        i += 1
      }
      n
    }

    private def vowelInStem(): Boolean = {
      var i = 0
      while (i <= j) { if (!cons(i)) return true; i += 1 }
      false
    }

    private def doubleC(i: Int): Boolean =
      i >= 1 && b(i) == b(i - 1) && cons(i)

    /** consonant-vowel-consonant ending at i, last consonant not w/x/y. */
    private def cvc(i: Int): Boolean =
      i >= 2 && cons(i) && !cons(i - 1) && cons(i - 2) && {
        val ch = b(i)
        ch != 'w' && ch != 'x' && ch != 'y'
      }

    private def ends(s: String): Boolean = {
      val l = s.length
      if (l > k + 1) return false
      var i = 0
      while (i < l) {
        if (b(k - l + 1 + i) != s.charAt(i)) return false
        i += 1
      }
      j = k - l
      true
    }

    private def setTo(s: String): Unit = {
      var i = 0
      while (i < s.length) { b(j + 1 + i) = s.charAt(i); i += 1 }
      k = j + s.length
    }

    private def r(s: String): Unit = if (m() > 0) setTo(s)

    /** plurals and -ed/-ing. */
    private def step1ab(): Unit = {
      if (b(k) == 's') {
        if (ends("sses")) k -= 2
        else if (ends("ies")) setTo("i")
        else if (b(k - 1) != 's') k -= 1
      }
      if (ends("eed")) { if (m() > 0) k -= 1 }
      else if ((ends("ed") || ends("ing")) && vowelInStem()) {
        k = j
        if (ends("at")) setTo("ate")
        else if (ends("bl")) setTo("ble")
        else if (ends("iz")) setTo("ize")
        else if (doubleC(k)) {
          k -= 1
          val ch = b(k)
          if (ch == 'l' || ch == 's' || ch == 'z') k += 1
        } else if (m() == 1 && cvc(k)) setTo("e")
      }
    }

    /** terminal y → i when there is another vowel in the stem. */
    private def step1c(): Unit =
      if (ends("y") && vowelInStem()) b(k) = 'i'

    private val step2Rules: Array[(String, String)] = Array(
      "ational" -> "ate", "tional" -> "tion", "enci" -> "ence", "anci" -> "ance",
      "izer" -> "ize", "bli" -> "ble", "alli" -> "al", "entli" -> "ent",
      "eli" -> "e", "ousli" -> "ous", "ization" -> "ize", "ation" -> "ate",
      "ator" -> "ate", "alism" -> "al", "iveness" -> "ive", "fulness" -> "ful",
      "ousness" -> "ous", "aliti" -> "al", "iviti" -> "ive", "biliti" -> "ble",
      "logi" -> "log")

    private val step3Rules: Array[(String, String)] = Array(
      "icate" -> "ic", "ative" -> "", "alize" -> "al", "iciti" -> "ic",
      "ical" -> "ic", "ful" -> "", "ness" -> "")

    private def applyRules(rules: Array[(String, String)]): Unit = {
      var i = 0
      while (i < rules.length) {
        val (sfx, repl) = rules(i)
        if (ends(sfx)) { r(repl); return }
        i += 1
      }
    }

    private val step4Suffixes: Array[String] = Array(
      "ement", "ance", "ence", "able", "ible", "ment", "ant", "ent", "ion",
      "ism", "ate", "iti", "ous", "ive", "ize", "ou", "al", "er", "ic")

    /** drop suffixes when m > 1 (ion additionally needs a preceding s/t). */
    private def step4(): Unit = {
      var i = 0
      while (i < step4Suffixes.length) {
        val sfx = step4Suffixes(i)
        if (ends(sfx)) {
          if (sfx == "ion" && !(j >= 0 && (b(j) == 's' || b(j) == 't'))) return
          if (m() > 1) k = j
          return
        }
        i += 1
      }
    }

    /** tidy final -e and -ll. */
    private def step5(): Unit = {
      j = k
      if (b(k) == 'e') {
        val a = m()
        if (a > 1 || (a == 1 && !cvc(k - 1))) k -= 1
      }
      if (b(k) == 'l' && doubleC(k) && m() > 1) k -= 1
    }

    def run(): String = {
      step1ab(); step1c()
      applyRules(step2Rules)
      applyRules(step3Rules)
      step4(); step5()
      new String(b, 0, k + 1)
    }
  }
}

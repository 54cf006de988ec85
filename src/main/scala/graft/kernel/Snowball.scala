package graft.kernel

/** Snowball English stemmer ("Porter2") — the public algorithm the
  * reference actually stems with (rust-stemmers `Algorithm::English`,
  * /root/reference/src/normalize.rs:52-71 uses
  * `Stemmer::create(Algorithm::English)`). Implemented from the
  * published Snowball specification (M.F. Porter, snowballstem.org,
  * "The English (Porter2) stemming algorithm"), including the
  * exceptional forms, so open-vocabulary predicates normalize exactly
  * as the reference does (e.g. "ties" → tie and "status" → status,
  * where classic 1980 Porter gives ti and statu). The engine's one
  * stemmer: `Porter.stemPredicate` is its memoized entry point.
  *
  * Conventions: operates on lowercase input (stem callers lowercase
  * first, as the reference does); 'Y' marks consonant-y internally and
  * is restored at the end.
  */
object Snowball {

  private val exceptional: Map[String, String] = Map(
    "skis" -> "ski", "skies" -> "sky", "dying" -> "die", "lying" -> "lie",
    "tying" -> "tie", "idly" -> "idl", "gently" -> "gentl", "ugly" -> "ugli",
    "early" -> "earli", "only" -> "onli", "singly" -> "singl",
    "sky" -> "sky", "news" -> "news", "howe" -> "howe", "atlas" -> "atlas",
    "cosmos" -> "cosmos", "bias" -> "bias", "andes" -> "andes")

  private val exceptional1a: Set[String] = Set(
    "inning", "outing", "canning", "herring", "earring",
    "proceed", "exceed", "succeed")

  // after y-marking, 'y' left lowercase IS a vowel; 'Y' is a consonant
  private def isV(c: Char): Boolean = c match {
    case 'a' | 'e' | 'i' | 'o' | 'u' | 'y' => true
    case _ => false
  }

  private val doubles = Set("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
  private val liEnding = "cdeghkmnrt"

  /** R1 start index (special gener/commun/arsen prefixes), R2 start. */
  private def regions(w: String): (Int, Int) = {
    def regionAfter(from: Int): Int = {
      var i = from
      val n = w.length
      while (i < n && !isV(w.charAt(i))) i += 1 // skip to first vowel
      while (i < n && isV(w.charAt(i))) i += 1 // skip vowels
      // i is now at the first non-vowel after a vowel; region starts after it
      if (i < n) i + 1 else n
    }
    val r1 =
      if (w.startsWith("gener")) 5
      else if (w.startsWith("commun")) 6
      else if (w.startsWith("arsen")) 5
      else regionAfter(0)
    val r2 = regionAfter(r1)
    (r1, r2)
  }

  /** Short syllable ending at index i (last char of the syllable). */
  private def endsShortSyllable(w: String): Boolean = {
    val n = w.length
    if (n >= 3) {
      val c = w.charAt(n - 1)
      if (!isV(c) && c != 'w' && c != 'x' && c != 'Y' &&
        isV(w.charAt(n - 2)) && !isV(w.charAt(n - 3))) return true
    }
    if (n == 2 && isV(w.charAt(0)) && !isV(w.charAt(1))) return true
    false
  }

  private def isShort(w: String, r1: Int): Boolean =
    r1 >= w.length && endsShortSyllable(w)

  private def containsVowel(w: String, until: Int): Boolean = {
    var i = 0
    while (i < until) { if (isV(w.charAt(i))) return true; i += 1 }
    false
  }

  def stem(input: String): String = {
    if (input.length <= 2) return input
    var w = input
    if (w.startsWith("'")) w = w.substring(1)
    if (w.length <= 2) return w
    exceptional.get(w) match { case Some(r) => return r; case None => }

    // mark consonant y as Y
    val cs = w.toCharArray
    if (cs(0) == 'y') cs(0) = 'Y'
    var i = 1
    while (i < cs.length) {
      if (cs(i) == 'y' && isV(cs(i - 1))) cs(i) = 'Y'
      i += 1
    }
    w = new String(cs)
    val (r1, r2) = regions(w)
    def inR1(suffixLen: Int): Boolean = w.length - suffixLen >= r1
    def inR2(suffixLen: Int): Boolean = w.length - suffixLen >= r2

    // step 0: longest of ' , 's , 's'
    if (w.endsWith("'s'")) w = w.dropRight(3)
    else if (w.endsWith("'s")) w = w.dropRight(2)
    else if (w.endsWith("'")) w = w.dropRight(1)

    // step 1a
    if (w.endsWith("sses")) w = w.dropRight(2)
    else if (w.endsWith("ied") || w.endsWith("ies")) {
      w = if (w.length - 3 > 1) w.dropRight(2) else w.dropRight(1)
    } else if (w.endsWith("us") || w.endsWith("ss")) { /* keep */ }
    else if (w.endsWith("s")) {
      // delete if preceding part has a vowel NOT immediately before the s
      if (containsVowel(w, w.length - 2)) w = w.dropRight(1)
    }

    if (exceptional1a.contains(w)) return w.replace('Y', 'y')

    // step 1b
    val s1b = Seq("eedly", "ingly", "edly", "eed", "ing", "ed")
    s1b.find(w.endsWith) match {
      case Some(suf @ ("eed" | "eedly")) =>
        if (inR1(suf.length)) w = w.dropRight(suf.length) + "ee"
      case Some(suf) =>
        if (containsVowel(w, w.length - suf.length)) {
          w = w.dropRight(suf.length)
          if (w.endsWith("at") || w.endsWith("bl") || w.endsWith("iz")) w = w + "e"
          else if (w.length >= 2 && doubles.contains(w.takeRight(2))) w = w.dropRight(1)
          else if (isShort(w, r1)) w = w + "e"
        }
      case None =>
    }

    // step 1c: y/Y -> i when preceded by a non-vowel that isn't the first letter
    if (w.length > 2 && (w.endsWith("y") || w.endsWith("Y")) &&
      !isV(w.charAt(w.length - 2)))
      w = w.dropRight(1) + "i"

    // step 2 (longest suffix, condition: in R1)
    val step2: Seq[(String, String)] = Seq(
      "ization" -> "ize", "ational" -> "ate", "fulness" -> "ful",
      "ousness" -> "ous", "iveness" -> "ive", "tional" -> "tion",
      "biliti" -> "ble", "lessli" -> "less", "entli" -> "ent",
      "ation" -> "ate", "alism" -> "al", "aliti" -> "al", "ousli" -> "ous",
      "iviti" -> "ive", "fulli" -> "ful", "enci" -> "ence", "anci" -> "ance",
      "abli" -> "able", "izer" -> "ize", "ator" -> "ate", "alli" -> "al",
      "bli" -> "ble", "ogi" -> "og", "li" -> "")
    step2.find { case (suf, _) => w.endsWith(suf) } match {
      case Some((suf, rep)) if inR1(suf.length) =>
        if (suf == "ogi") {
          if (w.length > 3 && w.charAt(w.length - 4) == 'l')
            w = w.dropRight(3) + rep
        } else if (suf == "li") {
          if (w.length > 2 && liEnding.indexOf(w.charAt(w.length - 3)) >= 0)
            w = w.dropRight(2)
        } else w = w.dropRight(suf.length) + rep
      case _ =>
    }

    // step 3 (longest suffix, in R1; "ative" only in R2)
    val step3: Seq[(String, String)] = Seq(
      "ational" -> "ate", "tional" -> "tion", "alize" -> "al",
      "icate" -> "ic", "iciti" -> "ic", "ative" -> "", "ical" -> "ic",
      "ness" -> "", "ful" -> "")
    step3.find { case (suf, _) => w.endsWith(suf) } match {
      case Some((suf, rep)) if inR1(suf.length) =>
        if (suf == "ative") { if (inR2(5)) w = w.dropRight(5) }
        else w = w.dropRight(suf.length) + rep
      case _ =>
    }

    // step 4 (longest suffix, in R2; "ion" needs preceding s/t)
    val step4: Seq[String] = Seq(
      "ement", "ance", "ence", "able", "ible", "ment", "ant", "ent",
      "ism", "ate", "iti", "ous", "ive", "ize", "ion", "al", "er", "ic")
    step4.find(w.endsWith) match {
      case Some("ion") =>
        if (inR2(3) && w.length > 3 &&
          (w.charAt(w.length - 4) == 's' || w.charAt(w.length - 4) == 't'))
          w = w.dropRight(3)
      case Some(suf) if inR2(suf.length) => w = w.dropRight(suf.length)
      case _ =>
    }

    // step 5
    if (w.endsWith("e")) {
      if (inR2(1)) w = w.dropRight(1)
      else if (inR1(1) && !endsShortSyllable(w.dropRight(1))) w = w.dropRight(1)
    } else if (w.endsWith("l")) {
      if (inR2(1) && w.length > 1 && w.charAt(w.length - 2) == 'l') w = w.dropRight(1)
    }

    w.replace('Y', 'y')
  }
}

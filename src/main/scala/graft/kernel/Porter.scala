package graft.kernel

/** Predicate canonicalization stem, matching the reference's
  * `normalize_predicate` (normalize.rs:52-71): lowercase, then stem with
  * rust-stemmers `Algorithm::English`, i.e. Snowball/Porter2, which
  * `kernel.Snowball` implements (incl. the exceptional forms). Golden
  * values from normalize.rs:178-199 (runs/running→run, ran→ran,
  * serves/serving/served→serv, graduates/graduating/graduated→graduat,
  * birthdate→birthdat, almamater→almamat, cityserved→cityserv,
  * location→locat) are pinned by KernelSpec and SnowballSpec. The
  * object keeps its historical name because the frozen oracle SQL
  * builders call `Porter.stemPredicate`.
  */
object Porter {

  /** Predicate vocabulary is tiny and Zipfian (a dozen canonical
    * properties re-stemmed once per extracted triple), so stems are
    * memoized per JVM; the cap keeps an adversarial open vocabulary
    * (arbitrary JSON-LD keys at 10^12 docs) from growing the map
    * unboundedly — misses past the cap just compute. */
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val memoCap = 1 << 16

  def stemPredicate(pred: String): String = {
    val hit = memo.get(pred)
    if (hit != null) hit
    else {
      val v = Snowball.stem(pred.toLowerCase)
      if (memo.size < memoCap) memo.putIfAbsent(pred, v)
      v
    }
  }
}

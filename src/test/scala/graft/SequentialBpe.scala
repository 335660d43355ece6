package graft

/** The naive sequential BPE trainer — the reference every `Bpe.train`
  * regime must reproduce merge for merge. Spark-free on purpose: it shares
  * no code with the trainer under test except the UTF-8 tie order.
  *
  * Every adjacent pair occurrence counts, weighted by its word's count;
  * each round merges the argmax pair with (n desc, a asc, b asc) UTF-8
  * tie-break and applies it greedily left to right, non-overlapping. A
  * full recount per round, so keep fixtures small. Initial symbols are
  * CODE POINTS, matching `Bpe.toSymbols`. */
object SequentialBpe {
  def train(words: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    val syms: Array[Array[String]] = words.map { case (w, _) =>
      val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.toArray
    }.toArray
    val counts = words.map(_._2).toArray
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var rounds = 0
    var exhausted = false
    while (rounds < numMerges && !exhausted) {
      val pair = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < syms.length) {
        val s = syms(wi)
        val c = counts(wi)
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          pair.update(k, pair.getOrElse(k, 0L) + c)
          i += 1
        }
        wi += 1
      }
      if (pair.isEmpty) exhausted = true
      else {
        var best: (String, String) = null
        var bestN = Long.MinValue
        for ((k, n) <- pair) {
          if (n > bestN || (n == bestN &&
              (graft.util.Utf8Order.lt(k._1, best._1) ||
                (k._1 == best._1 && graft.util.Utf8Order.lt(k._2, best._2))))) {
            best = k; bestN = n
          }
        }
        merges += best
        val (a, b) = best
        wi = 0
        while (wi < syms.length) {
          syms(wi) = rewriteWord(syms(wi), a, b)
          wi += 1
        }
      }
      rounds += 1
    }
    merges.toSeq
  }

  /** One merge (a, b) applied to a symbol array — left-to-right,
    * non-overlapping, like `Bpe.applyMerge`'s string replace. */
  private def rewriteWord(s: Array[String], a: String, b: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
        out += a + b; i += 2
      } else { out += s(i); i += 1 }
    }
    out.toArray
  }
}

package perfbench

/** Seeded documents shaped like the declared `documents` table: space-
  * separated tokens from a small vocabulary that includes the stop words
  * the rule gate counts, 60 to 120 tokens long. Two random documents share
  * almost no 3-shingles, so every near-duplicate relation in a generated
  * set is one the generator made on purpose.
  */
object Docs {
  val Vocab: IndexedSeq[String] = (Seq("the", "a", "of", "and", "to", "in", "is") ++
    Seq("spark", "stream", "block", "chain", "vote", "comment", "transfer", "key",
      "value", "batch", "table", "query", "join", "merge", "sort", "filter", "group",
      "window", "order", "data", "row", "column", "vector", "hash", "scan", "fast",
      "slow", "small", "big", "line", "part", "customer", "agg", "dup", "node",
      "state", "corpus", "token", "shingle", "band", "digest", "witness", "head",
      "lag", "sink", "ttl", "expire", "compact", "intake", "gate")).toIndexedSeq

  final class Gen(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)

    def text(): String = {
      val n = 60 + rnd.nextInt(61)
      val toks = Array.fill(n)(Vocab(rnd.nextInt(Vocab.length)))
      // the rule gate wants at least two distinct stop words
      toks(0) = "the"; toks(n / 2) = "of"
      toks.mkString(" ")
    }

    /** `text` with one token replaced by a different one. */
    def nearCopy(text: String): String = {
      val toks = text.split(' ')
      val i = 1 + rnd.nextInt(toks.length - 1)
      var t = toks(i)
      while (t == toks(i)) t = Vocab(7 + rnd.nextInt(Vocab.length - 7))
      toks(i) = t
      toks.mkString(" ")
    }

    def nextInt(n: Int): Int = rnd.nextInt(n)
  }
}

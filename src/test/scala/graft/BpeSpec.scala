package graft

import org.apache.spark.sql.functions._
import graft.operators.Bpe

/** BPE trainer/encoder golden over the classic Sennrich vocabulary —
  * merges hand-derived in the comments. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("trainer learns the classic merges; encoder applies them greedily") {
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "count")
    // the table fits the driver: the default route is the in-heap
    // trainer, recorded in the call's own telemetry
    val tel = new Bpe.TrainTelemetry
    val merges = Bpe.train(words, 4, telemetry = tel)
    import scala.jdk.CollectionConverters._
    assert(tel.lastRegimes.asScala.toSeq == Seq("inheap"),
      s"expected the in-heap regime, got ${tel.lastRegimes.asScala}")
    // round 1 pair counts: e-s 9, s-t 9 (tie → lexicographic), l-o 7, o-w 7,
    // w-e 8, n-e 6, e-w 6, e-r 2, w-i/i-d/d-e 3
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
    // lowest: l o w e s t → es → est → lo → low ⇒ [low, est]
    // newest: n e w est ⇒ 4 symbols; low ⇒ [low]
    val enc = Seq("lowest", "newest", "low").toDF("w")
      .select(Bpe.subwordCount(col("w"), merges).as("n")).as[Int].collect().toSeq
    assert(enc == Seq(2, 4, 1))
    // greedy adjacency: shared boundaries must not block the next site
    assert(Seq("abab").toDF("w")
      .select(Bpe.subwordCount(col("w"), Seq(("a", "b")))).as[Int].head() == 2)
    assert(Seq("aaa").toDF("w")
      .select(Bpe.subwordCount(col("w"), Seq(("a", "a")))).as[Int].head() == 2)
    // chained merges on repeated material: "aaaa" with (a,a) then (aa,aa)
    assert(Seq("aaaa").toDF("w")
      .select(Bpe.subwordCount(col("w"), Seq(("a", "a"), ("aa", "aa"))))
      .as[Int].head() == 1)
  }

  test("train rejects whitespace-bearing words with a pointed error (r16)") {
    // the symbol-string representation and the affected-word needles
    // require whitespace-free tokens; un-pre-tokenized input previously
    // produced silently-stale counts (r16 wide-corpus post-mortem)
    val bad = Seq(("a b", 5L), ("cd", 3L)).toDF("word", "count")
    val e = intercept[IllegalArgumentException] { Bpe.train(bad, 2) }
    assert(e.getMessage.contains("whitespace"))
  }

  test("training stops when no pair co-occurs") {
    val words = Seq(("a", 3L), ("b", 2L)).toDF("word", "count")
    assert(Bpe.train(words, 5).isEmpty)
  }

  test("local and distributed branches learn identical merges") {
    // A vocabulary with real tie pressure: repeated stems, shared suffixes,
    // counts that collide. The default takes the in-heap path;
    // inHeapMaxBytes = 0 forces the distributed rounds (hybrid loop, and
    // with hybridMaxPairs = 0 the table loop). The merge sequences must be
    // EQUAL element-by-element to the sequential reference — every regime
    // is a fast path, not an approximation.
    val fixture = Seq(
      ("lowering", 4L), ("lowered", 4L), ("lowest", 6L), ("low", 9L),
      ("newest", 6L), ("newer", 3L), ("widest", 3L), ("wider", 3L),
      ("ab", 5L), ("ba", 5L), ("aba", 2L), ("bab", 2L))
    val words = fixture.toDF("word", "count")
    val reference = SequentialBpe.train(fixture, 12)
    val inHeap = Bpe.train(words, 12)
    val distributed = Bpe.train(words, 12, inHeapMaxBytes = 0L)
    val tableLoop = Bpe.train(words, 12, inHeapMaxBytes = 0L,
      hybridMaxPairs = 0L)
    assert(inHeap == reference)
    assert(distributed == reference)
    assert(tableLoop == reference)
    assert(reference.size == 12)
  }

  test("local fast path trains 1000+ merges in seconds") {
    // The per-merge-Spark-job loop trains toy vocabularies only; the gate
    // exists so a real vocab size is feasible. 1500 distinct 24-symbol
    // words -> 36k total symbols, plenty of merge room. Wall-clock bound
    // is generous (CI headroom) — the point is it completes at all, where
    // 1000 distributed rounds would take ~30+ min.
    val rnd = new scala.util.Random(42)
    val alphabet = "abcdefghijklmnop"
    val words = Seq.tabulate(1500) { i =>
      val w = Array.fill(24)(alphabet(rnd.nextInt(alphabet.length))).mkString
      (w + i.toString, (i % 7 + 1).toLong) // suffix keeps words distinct
    }.toDF("word", "count")
    val t0 = System.nanoTime()
    val merges = Bpe.train(words, 1000)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(merges.size == 1000)
    assert(sec < 60.0, s"local BPE training took $sec s")
  }
}

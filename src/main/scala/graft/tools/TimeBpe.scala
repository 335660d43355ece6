package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only: wall time and merge digest of the BPE trainer on a
  * generated word table (SPARK_GRAFT_BPE_WORDS rows, default 300k, in
  * one of the corpus shapes below). SPARK_GRAFT_BPE_REGIME picks the
  * route: `auto` (default) is train's own gate, `hybrid` and `tableloop`
  * force the distributed loops. Two runs on the same corpus must print
  * the same `mergesDigest` line. */
object TimeBpe {
  def main(args: Array[String]): Unit = {
    val nMerges = sys.env.getOrElse("SPARK_GRAFT_BPE_MERGES", "100").toInt
    val spark = graft.Bench.session(32)
    spark.sparkContext.setLogLevel("ERROR")

    // the sf documents draw from a ~30-word vocabulary — too small to
    // exercise the distributed regime; generate a deterministic 300k-word
    // table instead. Three corpus shapes: "hex" (md5-hex words — a 16-char
    // alphabet, CONFLICT-DENSE: top pairs share symbols constantly, the
    // worst case for exact batching), "alpha" (the hex bytes re-mapped
    // onto a-z — a 26-char alphabet closer to natural text's pair
    // diversity), and "nat" (letters drawn from the EMPIRICAL English
    // unigram frequency table — e is ~12× z — with a short-word-biased
    // length mix, the realistic-Zipfian-input shape the r10 verdict's
    // stretch asked for: skewed letter marginals concentrate pair mass
    // the way natural text does, which is what stresses batch widths).
    val n = sys.env.getOrElse("SPARK_GRAFT_BPE_WORDS", "300000").toLong
    val corpus = sys.env.getOrElse("SPARK_GRAFT_BPE_CORPUS", "hex")
    val hexWord = "substring(md5(cast(id as string)), 1, 4 + cast(id % 20 as int))"
    val wordExpr = corpus match {
      case "alpha" =>
        // map each hex digit deterministically into a-z (spread by position)
        s"""concat_ws('', transform(split($hexWord, ''),
           | (c, i) -> char(ascii('a') + (conv(c, 16, 10) + i * 7) % 26)))"""
          .stripMargin.replace("\n", " ")
      case "nat" =>
        // 64-slot table ≈ English unigram frequencies (e 8/64 ≈ 12.5 %,
        // t 6, a/o/i/n 5, s/h/r 4, d/l 3, c/u/m/w/f 2, g/y 1 — an
        // 18-letter head that carries ~97 % of English letter mass);
        // each letter indexed by one hex pair of the word's md5
        // (0..255 → %64). Length 3–14, short-biased via a squared draw.
        val freqTable = "eeeeeeee" + "tttttt" + "aaaaa" + "ooooo" +
          "iiiii" + "nnnnn" + "ssss" + "hhhh" + "rrrr" + "ddd" + "lll" +
          "cc" + "uu" + "mm" + "ww" + "ff" + "gy"
        assert(freqTable.length == 64)
        s"""concat_ws('', transform(
           |  sequence(1, 3 + cast(pow(cast(conv(substring(md5(cast(id as string)), 31, 2), 16, 10) as int) / 255.0, 2) * 11 as int)),
           |  i -> substring('$freqTable',
           |         1 + cast(conv(substring(md5(cast(id as string)), 1 + ((i - 1) * 2) % 28, 2), 16, 10) as int) % 64, 1)))"""
          .stripMargin.replace("\n", " ")
      case "wide" =>
        // SPARK_GRAFT_BPE_ALPHABET-codepoint alphabet (CJK block
        // U+4E00.., default 2048) with 4–8-char words — the pair table is
        // alphabet-driven, so the default is the shape that genuinely
        // forces the >HybridPairMaxRows TABLE-LOOP regime (millions of
        // distinct adjacent pairs) at a synthesizable word count, while
        // 1024 (~1M pairs) admits the HYBRID map on the same word count —
        // the r17 hybrid-index A/B shape. hex/alpha/nat alphabets cap out
        // at thousands of pairs. NOTE: Spark's chr() is BYTE-limited
        // (mod 256 — the r16 first cut generated space/control bytes,
        // violating the trainer's whitespace-free word contract); real
        // BMP code points come from decode(unhex(hex(cp)), 'UTF-16BE').
        val alpha = sys.env.getOrElse("SPARK_GRAFT_BPE_ALPHABET", "2048").toInt
        s"""concat_ws('', transform(
           |  sequence(1, 4 + cast(id % 5 as int)),
           |  i -> decode(unhex(hex(19968 + cast(conv(substring(md5(cast(id as string)), 1 + ((i - 1) * 3) % 27, 3), 16, 10) as int) % $alpha)), 'UTF-16BE')))"""
          .stripMargin.replace("\n", " ")
      case _ => hexWord
    }
    val words = spark.range(n)
      .select(
        expr(wordExpr).as("word"),
        expr("greatest(1L, 1000000L div (id + 1))").as("count"))
      .cache()
    println(s"unique words: ${words.count()}")
    // default exercises the auto gates (in-heap when the encoded
    // footprint fits, else hybrid when the pair table fits, else table
    // loop);
    // =hybrid disables the in-heap gate (the r13 deep-merge curves were
    // measured on this path — keep it reachable for same-box A/Bs);
    // =tableloop forces the fully-distributed rounds
    val regime = sys.env.getOrElse("SPARK_GRAFT_BPE_REGIME", "auto")
    val maxPairs =
      if (regime == "tableloop") 0L else graft.operators.Bpe.HybridPairMaxRows
    val maxInHeap = regime match {
      case "hybrid" | "tableloop" => 0L
      case _ => graft.operators.Bpe.InHeapStateMaxBytes
    }
    // r17 A/B knob: occurrence-index build trigger in consecutive sparse
    // rounds (production default when unset; -1 = index disabled — the
    // measured control)
    val occIdx = sys.env.get("SPARK_GRAFT_BPE_OCCIDX").map(_.toInt)
      .getOrElse(graft.operators.Bpe.OccIndexAfterSparseRounds)
    // r19 sensitivity knob (r18 verdict #4): proactive ovI-bound rebuild
    // threshold in overlay words (production default when unset; 0 = the
    // rebuild disabled — the r18 pre-fix control)
    val rebuildOv = sys.env.get("SPARK_GRAFT_BPE_REBUILD_OV").map(_.toInt)
      .getOrElse(graft.operators.Bpe.OccIndexRebuildOvWords)
    val tel = new graft.operators.Bpe.TrainTelemetry
    val t0 = System.nanoTime()
    val merges = graft.operators.Bpe.train(words, nMerges,
      hybridMaxPairs = maxPairs, inHeapMaxBytes = maxInHeap,
      occIndexAfterSparseRounds = occIdx, occIndexRebuildOvWords = rebuildOv,
      telemetry = tel)
    val total = (System.nanoTime() - t0) / 1e9
    println(f"$nMerges merges (regime=$regime): " +
      f"$total%.1f s total, " +
      f"${total / math.max(1, merges.size)}%.3f s/merge, learned ${merges.size}")
    println(s"rebuildOv=$rebuildOv occProbeServed=${tel.occProbeServed.get()} " +
      s"occIndexRebuilds=${tel.occIndexRebuilds.get()}")
    // cross-regime parity digest (MurmurHash3 — deterministic across JVMs):
    // two regimes on the same corpus must print the same line
    println(s"mergesDigest=${scala.util.hashing.MurmurHash3.seqHash(merges)}")
    spark.stop()
  }
}

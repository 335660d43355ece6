package graft

import graft.operators.Bpe

/** Pins the trainer's EXACT merge batching (Bpe.selectBatch + the batched
  * delta rounds) to sequential BPE on the fixtures that break naive
  * batching: self-pairs whose merges spawn high-count new pairs, concat
  * collisions (two factorizations of one symbol string), tie cascades, and
  * a randomized vocabulary. Every regime — in-heap, hybrid, table loop and
  * both hand-offs — must reproduce [[SequentialBpe]] merge for merge:
  * batching is a latency optimization, never an approximation. */
class BpeBatchSpec extends SparkSpec {
  import spark.implicits._

  private def parity(words: Seq[(String, Long)], n: Int): Unit = {
    val df = words.toDF("word", "count")
    val local = SequentialBpe.train(words, n)
    // in-heap gate off → the HYBRID loop (driver map)
    val hybrid = Bpe.train(df, n, inHeapMaxBytes = 0L)
    // in-heap gate off + pair map disallowed → the TABLE loop
    val tableLoop = Bpe.train(df, n, hybridMaxPairs = 0L, inHeapMaxBytes = 0L)
    // the default route: the INCREMENTAL in-heap regime
    val inHeap = Bpe.train(df, n)
    assert(hybrid == local,
      s"hybrid-distributed merges diverge from sequential:\n" +
        s"  local:  $local\n  hybrid: $hybrid")
    assert(tableLoop == local,
      s"table-loop merges diverge from sequential:\n" +
        s"  local:     $local\n  tableloop: $tableLoop")
    assert(inHeap == local,
      s"incremental in-heap merges diverge from sequential:\n" +
        s"  local:  $local\n  inheap: $inHeap")
  }

  test("self-pair merges are never batched past their new-pair shadow") {
    // (a,a) = 400 dominates; its merge creates (aa,a) = 200 which must win
    // round 2 over the disjoint (c,d) = 150 — a naive disjoint-prefix batch
    // {(a,a),(c,d)} would reorder the sequence.
    parity(Seq(("aaa", 200L), ("cd", 150L), ("ef", 100L)), 6)
  }

  test("concat collision: a previously-created symbol string re-formed") {
    // "abc" forms via (a,b)+(ab,c) on one stem and (b,c)+(a,bc) pressure on
    // the other; pairs over the colliding symbol must not ride a batch.
    parity(Seq(("abcabc", 50L), ("abd", 40L), ("xbc", 35L), ("abc", 30L),
      ("bc", 20L), ("ab", 20L)), 8)
  }

  test("tie cascade: equal counts resolve in UTF-8 order, batched or not") {
    parity(Seq(("ab", 10L), ("cd", 10L), ("ef", 10L), ("gh", 10L),
      ("abcd", 10L), ("efgh", 10L)), 8)
  }

  test("control characters at word edges parse the same on the driver and in Spark") {
    // Spark's trim strips spaces only; Java's String.trim also strips
    // U+0000..U+001F, so a driver parse through it dropped the edge
    // symbol of these words and every driver-side regime trained on
    // stale counts (repeating a merge). None of them is \s whitespace,
    // so the input contract admits them.
    parity(Seq(("\u0001ab", 9L), ("ab\u0007", 7L), ("abc", 3L),
      ("\u001fb", 5L)), 6)
  }

  test("randomized vocabulary parity over many rounds") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdefg" // small alphabet → heavy overlap + ties
    val words = Seq.tabulate(60) { _ =>
      val w = Array.fill(4 + rnd.nextInt(8))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      (w, (rnd.nextInt(20) + 1).toLong)
    }.distinct
    parity(words, 40)
  }

  test("table-loop dense rounds and word-overlay refreeze match the sparse shape (r16)") {
    // Fixture rounds are all-sparse at the default affected bound, so the
    // DENSE shape (distributed delta agg + full wid-preserving rewrite)
    // and the sparse path's syms-overlay REFREEZE never run under the
    // parity helper — force each and pin merges against the local
    // reference and the default table loop.
    val rnd = new scala.util.Random(11)
    val words = Seq.tabulate(50) { _ =>
      val w = Array.fill(3 + rnd.nextInt(7))(
        "abcde" (rnd.nextInt(5))).mkString
      (w, (rnd.nextInt(30) + 1).toLong)
    }.distinct
    val df = words.toDF("word", "count")
    val local = SequentialBpe.train(words, 25)
    def tableLoop() = Bpe.train(df, 25,
      hybridMaxPairs = 0L, inHeapMaxBytes = 0L)
    assert(tableLoop() == local, "default (sparse) table loop diverged")
    // per-call bounds (r16 ADVICE: the @volatile hook vars are gone)
    val dense = Bpe.train(df, 25, hybridMaxPairs = 0L,
      inHeapMaxBytes = 0L, overlayMaxAffected = 0) // every round dense
    assert(dense == local, "forced-dense table loop diverged")
    val refrozen = Bpe.train(df, 25, hybridMaxPairs = 0L,
      inHeapMaxBytes = 0L, overlayMaxWords = 0) // refreeze every sparse round
    assert(refrozen == local, "forced-refreeze table loop diverged")
  }

  test("occurrence-index table loop learns identical merges in every forced shape (r17)") {
    // The index path must reproduce the scan path's affected set exactly:
    // force the index from round 0 (trigger 0) and pin merges against the
    // sequential reference and the index-disabled loop across the shapes
    // that stress its lifecycle — overlay reconciliation (default), an
    // overlay refreeze every sparse round (rebuild-on-refreeze), forced
    // dense rounds (invalidate + deep-regime reset), and a mid-run build
    // (trigger 2). Fixture: tie-heavy randomized vocabulary.
    val rnd = new scala.util.Random(17)
    val words = Seq.tabulate(60) { _ =>
      val w = Array.fill(3 + rnd.nextInt(8))(
        "abcdef" (rnd.nextInt(6))).mkString
      (w, (rnd.nextInt(25) + 1).toLong)
    }.distinct
    val df = words.toDF("word", "count")
    val local = SequentialBpe.train(words, 30)
    def tbl(trigger: Int, affMax: Int = Bpe.SymsOverlayMaxAffected,
        ovMax: Int = Bpe.SymsOverlayMaxWords) =
      Bpe.train(df, 30, hybridMaxPairs = 0L,
        inHeapMaxBytes = 0L, overlayMaxAffected = affMax,
        overlayMaxWords = ovMax, occIndexAfterSparseRounds = trigger)
    assert(tbl(trigger = -1) == local, "index-disabled control diverged")
    assert(tbl(trigger = 0) == local, "index-from-round-0 diverged")
    assert(tbl(trigger = 2) == local, "mid-run index build diverged")
    assert(tbl(trigger = 0, ovMax = 0) == local,
      "per-round refreeze+rebuild diverged")
    assert(tbl(trigger = 0, affMax = 0) == local,
      "forced-dense (index invalidated every round) diverged")
    // r18: the proactive ovI-bound REBUILD path — bound 1 forces a full
    // index rebuild at nearly every round start (any rewritten word
    // trips it); merges must be unchanged and the rebuild counter must
    // advance (proof the path ran)
    locally {
      // per-call telemetry (Bpe.TrainTelemetry): the run's own instance
      // advances, a bystander instance stays untouched
      val tel = new Bpe.TrainTelemetry
      val bystander = new Bpe.TrainTelemetry
      assert(Bpe.train(df, 30, hybridMaxPairs = 0L,
        inHeapMaxBytes = 0L, occIndexAfterSparseRounds = 0,
        occIndexRebuildOvWords = 1, telemetry = tel) == local,
        "ovI-bound rebuild path diverged")
      assert(tel.occIndexRebuilds.get() > 0L,
        "1-word rebuild bound never triggered a proactive rebuild")
      assert(tel.occProbeServed.get() > 0L,
        "rebuild run never served a probe")
      assert(bystander.occIndexRebuilds.get() == 0L &&
        bystander.occProbeServed.get() == 0L,
        "telemetry leaked across instances")
    }
    // r18: the probe BUDGET path — a 1-entry budget makes every non-
    // trivial probe truncate past the provable bound, so probes return
    // INCONCLUSIVE (None) and the bound+1-limited scan decides each
    // round; merges must be unchanged and the inconclusive counter must
    // actually advance (proof the None path ran rather than the fixture
    // quietly fitting inside the budget)
    locally {
      val tel = new Bpe.TrainTelemetry
      assert(Bpe.train(df, 30, hybridMaxPairs = 0L,
        inHeapMaxBytes = 0L, occIndexAfterSparseRounds = 0,
        occProbeMaxTotalRows = 1, telemetry = tel) == local,
        "budget-truncated (inconclusive) probe path diverged")
      assert(tel.occProbeInconclusive.get() > 0L,
        "1-entry probe budget never produced an inconclusive probe")
    }
    // the HYBRID loop shares the index (its deep floor was the same scan)
    def hyb(trigger: Int, ovMax: Int = Bpe.SymsOverlayMaxWords) =
      Bpe.train(df, 30, inHeapMaxBytes = 0L,
        overlayMaxWords = ovMax, occIndexAfterSparseRounds = trigger)
    assert(hyb(trigger = 0) == local, "hybrid index-from-round-0 diverged")
    assert(hyb(trigger = 0, ovMax = 0) == local,
      "hybrid per-round refreeze+rebuild diverged")
    // r18: the proactive ovI-bound rebuild fires in the HYBRID loop too
    assert(Bpe.train(df, 30, inHeapMaxBytes = 0L,
      occIndexAfterSparseRounds = 0, occIndexRebuildOvWords = 1) == local,
      "hybrid ovI-bound rebuild path diverged")
  }

  test("table loop survives a max-count tie plateau wider than the visible top (r17)") {
    // Every pair ties at the max: with baseTopRows = 2 the refrozen floor
    // EQUALS the running maximum and nothing is strictly above it — the
    // r16 loop declared exhaustion here and returned ZERO merges despite
    // co-occurring pairs (ADVICE r16, high). The fallback probes the base
    // with one distributed TakeOrdered per plateau round; merges must be
    // the exact sequential sequence, ties resolved in UTF-8 order.
    val words = Seq(("ab", 5L), ("cd", 5L), ("ef", 5L), ("gh", 5L),
      ("ij", 5L), ("kl", 5L))
    val df = words.toDF("word", "count")
    // ask for MORE merges than exist: the fixture admits exactly 6, so
    // this also pins that genuine exhaustion (empty base) still ends
    // training instead of looping on the probe
    val local = SequentialBpe.train(words, 10)
    assert(local.size == 6, s"fixture should admit 6 merges, got $local")
    val plateau = Bpe.train(df, 10, hybridMaxPairs = 0L,
      inHeapMaxBytes = 0L, baseTopRows = 2)
    assert(plateau == local,
      s"plateau table loop diverged:\n  local:   $local\n  plateau: $plateau")
    // mixed shape: a dominant pair above the plateau trains normally, then
    // the loop hits the plateau mid-run and must keep going
    val mixed = Seq(("xy", 9L)) ++ words
    val mdf = mixed.toDF("word", "count")
    val mlocal = SequentialBpe.train(mixed, 7)
    val mplateau = Bpe.train(mdf, 7, hybridMaxPairs = 0L,
      inHeapMaxBytes = 0L, baseTopRows = 2)
    assert(mplateau == mlocal,
      s"mid-run plateau diverged:\n  local:   $mlocal\n  plateau: $mplateau")
  }

  test("selectBatch truncates to counts strictly above the first conflict") {
    // p1=(a,b) 100 and p2=(c,d) 90 are disjoint; (b,e) 80 conflicts on b →
    // stopCount 80 keeps both. With (c,d) at 80 instead, the tie with the
    // conflict truncates the batch to p1 alone.
    assert(Bpe.selectBatch(
      Seq(("a", "b", 100L), ("c", "d", 90L), ("b", "e", 80L)), Set.empty) ==
      Seq(("a", "b"), ("c", "d")))
    assert(Bpe.selectBatch(
      Seq(("a", "b", 100L), ("c", "d", 80L), ("b", "e", 80L)), Set.empty) ==
      Seq(("a", "b")))
    // probe floor: with no conflict in the window, the last row's count is
    // the floor (unseen pairs may tie it)
    assert(Bpe.selectBatch(
      Seq(("a", "b", 100L), ("c", "d", 90L)), Set.empty) == Seq(("a", "b")))
    // self-pair: legal alone, a hard stop otherwise
    assert(Bpe.selectBatch(Seq(("a", "a", 100L), ("c", "d", 90L)), Set.empty) ==
      Seq(("a", "a")))
    assert(Bpe.selectBatch(
      Seq(("x", "y", 100L), ("a", "a", 90L), ("c", "d", 80L)), Set.empty) ==
      Seq(("x", "y")))
    // prior-symbol concat collision is a conflict
    assert(Bpe.selectBatch(
      Seq(("a", "b", 100L), ("c", "d", 90L)), Set("cd")) == Seq(("a", "b")))
  }

  test("hybrid overflow hands off to the table loop mid-training, exactly") {
    // Force the hybrid gate to ADMIT the initial pair table but overflow
    // its 4x growth bound after a few merges (each merge adds new pair
    // types), so training crosses hybrid -> table-loop mid-run. Merges
    // must stay bit-identical to the sequential reference across the
    // hand-off.
    val rnd = new scala.util.Random(11)
    val alphabet = "abcd"
    val words = Seq.tabulate(120) { _ =>
      val w = Array.fill(5 + rnd.nextInt(10))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      (w, (rnd.nextInt(20) + 1).toLong)
    }.distinct
    val df = words.toDF("word", "count")
    val local = SequentialBpe.train(words, 60)
    // initial pairs over a 4-char alphabet (≤16) fit hybridMaxPairs = 16
    // (the gate admits); merges add new pair types until the map crosses
    // the 4x growth bound (>64) and the loop hands off. The regime hook
    // asserts the hand-off actually fired — a fixture that stopped
    // overflowing would fail here, not silently test one loop.
    val tel = new Bpe.TrainTelemetry
    val crossed = Bpe.train(df, 60, hybridMaxPairs = 16L,
      inHeapMaxBytes = 0L, telemetry = tel)
    assert(crossed == local,
      s"hand-off merges diverge:\n  local:   $local\n  crossed: $crossed")
    import scala.jdk.CollectionConverters._
    assert(tel.lastRegimes.asScala.toSeq == Seq("hybrid", "tableloop"),
      s"expected a hybrid->tableloop hand-off, got ${tel.lastRegimes.asScala}")
  }

  test("hybrid hands off to the in-heap regime mid-training (r15 streamed int build)") {
    // Merging SHRINKS the encoded footprint (occurrences × 12 + words ×
    // 48), so a budget set between the round-0 footprint and the
    // post-first-round one makes the initial gate decline and the
    // per-round cadence re-check accept — exercising the mid-training
    // streamed toLocalIterator build and the int-encoded continuation
    // with a non-empty merges prefix. Merges must stay bit-identical to
    // the sequential reference across the regime switch.
    import scala.jdk.CollectionConverters._
    val words = Seq(("aaaaaaaa", 40L), ("aaaabbbb", 30L),
      ("bbbbbbbb", 20L), ("abababab", 10L))
    val df = words.toDF("word", "count")
    val local = SequentialBpe.train(words, 10)
    // round-0 footprint: 32 occurrences × 12 + 4 words × 48 = 576
    val budget = 570L
    val tel = new Bpe.TrainTelemetry
    val handed = Bpe.train(df, 10,
      inHeapMaxBytes = budget, inHeapHandoffCheckRounds = 1, telemetry = tel)
    assert(handed == local,
      s"mid-training in-heap hand-off merges diverge:\n" +
        s"  local:  $local\n  handed: $handed")
    assert(tel.lastRegimes.asScala.toSeq == Seq("hybrid", "inheap"),
      s"expected a hybrid->inheap hand-off, got ${tel.lastRegimes.asScala}")
  }

  test("argmax heap mode and scan mode learn identical merges (r15)") {
    // Fixture maps never cross the churn threshold, so the suite's parity
    // tests all ride the HEAP path; this forces the SCAN path (slack
    // negative → every round counts as high-churn) and pins heap ≡ scan
    // on a tie-heavy randomized vocabulary — the two modes must produce
    // the same (n desc, a asc, b asc) argmax sequence.
    val rnd = new scala.util.Random(13)
    val alphabet = "abcde"
    val words = Seq.tabulate(80) { _ =>
      val w = Array.fill(3 + rnd.nextInt(9))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      (w, (rnd.nextInt(12) + 1).toLong)
    }.distinct
    val df = words.toDF("word", "count")
    val viaHeap = Bpe.train(df, 40)
    val viaScan = Bpe.train(df, 40, argmaxHeapMinSlack = Long.MinValue / 2)
    assert(viaHeap == viaScan,
      s"argmax modes diverge:\n  heap: $viaHeap\n  scan: $viaScan")
    assert(viaHeap == SequentialBpe.train(words, 40),
      "in-heap diverged from the sequential reference")
  }

  test("selectBatchEx with a complete table has no probe floor") {
    // the same conflict-free window that floor-truncates as a probe accepts
    // everything when it IS the whole table (no unseen pair can tie)
    val top = Seq(("a", "b", 100L), ("c", "d", 90L), ("e", "f", 90L))
    assert(Bpe.selectBatchEx(top, Set.empty, complete = false) ==
      (Seq(("a", "b")), false))
    assert(Bpe.selectBatchEx(top, Set.empty, complete = true) ==
      (Seq(("a", "b"), ("c", "d"), ("e", "f")), false))
    // a conflict still truncates at its count, complete or not — and flags
    // the walk as conflict-stopped (probing deeper can never help)
    val conflicted = Seq(("a", "b", 100L), ("c", "d", 90L), ("b", "e", 90L))
    assert(Bpe.selectBatchEx(conflicted, Set.empty, complete = true) ==
      (Seq(("a", "b")), true))
    // equal-count disjoint pairs batch together when the table is complete
    val ties = Seq(("a", "b", 50L), ("c", "d", 50L), ("e", "f", 50L))
    assert(Bpe.selectBatchEx(ties, Set.empty, complete = true)._1 ==
      Seq(("a", "b"), ("c", "d"), ("e", "f")))
  }
}

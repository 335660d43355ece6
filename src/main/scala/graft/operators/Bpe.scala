package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training (Sennrich-style byte-pair encoding
  * over a word-frequency table) and merge application.
  *
  * The trainer's working set is the UNIQUE-WORD table with counts — at
  * 100 TB of corpus that is millions of rows, not the corpus itself. A
  * 32k-vocab training is tens of thousands of SEQUENTIAL rounds, so the
  * per-round cost decides everything: below [[LocalTrainMaxWords]] unique
  * words the table is collected ONCE and trained in-heap (each round a
  * hash-map pair count over the array — microseconds, not a Spark job);
  * above it, each round is one distributed pair-count aggregation
  * (map-side combinable) plus a 1-row argmax to the driver. Same gate
  * shape as ShortestPaths.Sssp.isLocal: one map-side count() answers
  * "is it local?" without moving a row, and both branches produce
  * IDENTICAL merges (BpeSpec forces and compares them).
  *
  * Representation: a word is a symbol string with DOUBLE-space separators
  * and single-space ends — `" l  o  w "`. A merge (a, b) is then the plain
  * string replace `" a  b " → " ab "`: each match consumes one boundary
  * space on each side, so adjacent merge sites keep their own boundary and
  * left-to-right non-overlapping replace equals greedy BPE exactly
  * ([a,b,a,b] → [ab, ab]; [a,a,a] → [aa, a]). No regex anywhere, so any
  * SQL engine's `replace` reproduces the application verbatim — the
  * catalog queries `text_bpe_merges` / `text_bpe_encode` hash-check the
  * trainer and the encoder against DuckDB.
  */
object Bpe {

  /** Unique-word threshold for the in-heap trainer: 2M words × ~30 B of
    * symbols ≈ 60 MB driver heap — trivial; above it (web-scale
    * vocabularies) the distributed rounds take over. */
  val LocalTrainMaxWords: Long = 2000000L

  /** Pair-TABLE row bound for the hybrid regime's driver-resident counts
    * map. The pair table is alphabet-driven — unique adjacent SYMBOL pairs,
    * not unique words — so a word table far too big to collect almost
    * always has a pair table of thousands-to-millions of rows (hex corpus:
    * 256 initial pairs; natural text: |chars|² plus one new symbol per
    * merge × its distinct neighbors). 4M rows × ~150 B of map entry
    * ≈ 600 MB driver heap, well under the driver sizes every measured run
    * uses; above the bound (or if the map outgrows 1.5× of it mid-training
    * — ~900 MB, modest headroom without risking a small-heap OOM before
    * the hand-off fires) the fully-distributed table loop takes over. */
  val HybridPairMaxRows: Long = 4000000L

  /** MEASURED resident-byte budget for the incremental IN-HEAP regime
    * (r14 — the deep-merge round-floor lever: past merge ~14k every
    * distributed round applies ONE merge against a ~0.59 s Spark
    * scheduling floor, so 32k ≈ 4.2 h regardless of how little data
    * moves; in-heap the same corpus MEASURED 2025 s). What is gated
    * changed in r15: the in-heap state is now INT-ENCODED — a word is an
    * `Array[Int]` over an interned symbol vocabulary, cutting resident
    * bytes ~4-8× vs the r14 `Array[Array[String]]` — and the gate
    * measures the ESTIMATED ENCODED FOOTPRINT (occurrences ×
    * [[InHeapBytesPerSymbol]] + words × [[InHeapBytesPerWord]], one agg
    * job) instead of the raw `sum(length(s))` proxy, so corpora whose
    * STRING table failed the old 256 MB gate (and paid the 0.59 s/merge
    * distributed floor) now train at the 0.06 s/merge regime. The 1.5 GiB
    * default budgets the actual arrays the trainer holds — word ints +
    * occurrence index + counts — and assumes a ≥ 4 GB driver; the
    * handoff additionally STREAMS the collect partition-by-partition
    * (toLocalIterator), so the transient string peak is one partition,
    * not the table. Tables over the budget keep the hybrid loop, which
    * re-checks every [[InHeapHandoffCheckRounds]] rounds (merging shrinks
    * the table) and hands off mid-training when the budget is met — at
    * true web scale (hundreds of millions of distinct words) the table
    * never fits and the executor count stays the lever, exactly as the
    * r13 COVERAGE reading said. */
  val InHeapStateMaxBytes: Long = 1536L * 1024L * 1024L

  /** Estimated resident bytes per symbol OCCURRENCE in the int-encoded
    * in-heap state: 4 B in its word's `Array[Int]` + ~8 B occurrence-index
    * slot (4 B payload × ~2 growth slack across the primitive buffers). */
  val InHeapBytesPerSymbol: Long = 12L

  /** Estimated resident bytes per WORD: array header + outer reference +
    * count slot + amortized index-buffer headers. */
  val InHeapBytesPerWord: Long = 48L

  /** Hybrid-round cadence for re-measuring the symbol table against
    * [[InHeapStateMaxBytes]]: the footprint agg costs about one
    * full-table round, so checking every 256 rounds keeps the amortized
    * overhead under half a percent. Production DEFAULT of train's
    * per-call parameter (r18 — the @volatile spec hook it replaces was
    * process-global mutable state; the mid-training handoff spec passes
    * 1 per call on its 10-word fixture instead). */
  private[graft] val InHeapHandoffCheckRounds: Int = 256

  /** "word" → " w  o  r  d " (double-space separators, single-space ends;
    * a trailing extra space is harmless to matching and trimmed before
    * any split). (?s) so line terminators survive — trainLocal's code-point
    * loop keeps them, and branch parity requires both sides see identical
    * symbols. */
  def toSymbols(word: Column): Column =
    concat(lit(" "), regexp_replace(word, "(?s)(.)", "$1  "))

  /** Symbols of a symbol string (split on the double-space separator). */
  private def symbolsOf(s: Column): Column = split(trim(s), " +")

  /** Apply one merge (a, b) → "ab": plain replace, no regex. */
  def applyMerge(sym: Column, a: String, b: String): Column =
    replace(sym, lit(s" $a  $b "), lit(s" $a$b "))

  /** Train `numMerges` merges over (word, count) rows. Deterministic: ties
    * broken by (left symbol, right symbol) ascending in UTF-8 byte order —
    * Spark's string sort order, which the local branch reproduces exactly;
    * pairs seen only once (weighted count 1) still merge, pairs never
    * co-occurring end training early. Returns merges in application order. */
  def train(words: DataFrame, numMerges: Int,
      localMaxWords: Long = LocalTrainMaxWords,
      hybridMaxPairs: Long = HybridPairMaxRows,
      inHeapMaxBytes: Long = InHeapStateMaxBytes,
      // Cost-shaping bounds of the two distributed loops, threaded as
      // per-call parameters (r16 ADVICE — the @volatile spec-hook vars
      // they replace were process-global mutable state, unsafe under
      // parallel callers; same fix as Betweenness.ofProjection's
      // defaultCsrBound): every value is parity-pinned to identical
      // merges, so these shift wall time, never answers.
      overlayMaxAffected: Int = SymsOverlayMaxAffected,
      overlayMaxWords: Int = SymsOverlayMaxWords,
      baseTopRows: Int = BaseTopRows,
      occIndexAfterSparseRounds: Int = OccIndexAfterSparseRounds,
      // r18 — the last @volatile spec hooks, threaded the same way:
      // per-call with production defaults, parity-pinned to identical
      // merges (they shift wall time, never answers)
      inHeapHandoffCheckRounds: Int = InHeapHandoffCheckRounds,
      argmaxHeapMinSlack: Long = ArgmaxHeapMinSlack,
      occProbeMaxTotalRows: Int = OccProbeMaxTotalRows,
      occIndexRebuildOvWords: Int = OccIndexRebuildOvWords,
      // per-call regime evidence ([[TrainTelemetry]] scaladoc): pass your
      // own instance to require on counters only THIS call advances; the
      // default keeps an unshared one
      telemetry: TrainTelemetry = new TrainTelemetry)
      : Seq[(String, String)] = {
    val spark = words.sparkSession
    import spark.implicits._
    val w = words.select(col("word").cast("string").as("word"),
      col("count").cast("long").as("count"))
    // Local-vs-distributed pre-gate: one parallel agg (per-partition
    // partials combine map-side) answers the row count AND enforces the
    // INPUT CONTRACT — words are whitespace-free tokens (standard BPE
    // pre-tokenization). The symbol-string representation (" a  b ",
    // see the class scaladoc) and the affected-word needles REQUIRE it:
    // a word carrying a literal space would split into phantom symbols
    // whose needle matching silently diverges from the pair parse
    // (caught r16 — a byte-overflowing synthetic corpus produced
    // space-bearing words and stale counts). Fail pointedly instead.
    val pre = w.agg(count(lit(1)), coalesce(sum(
      col("word").rlike("\\s").cast("long")), lit(0L))).head()
    require(pre.getLong(1) == 0L,
      s"BPE input contract violated: ${pre.getLong(1)} words contain " +
        "whitespace - pre-tokenize the corpus (words must be " +
        "whitespace-free tokens)")
    if (pre.getLong(0) <= math.min(localMaxWords, (Int.MaxValue - 2).toLong))
      trainLocal(w.as[(String, Long)].collect(), numMerges)
    else trainDistributed(w, numMerges, hybridMaxPairs, inHeapMaxBytes,
      overlayMaxAffected, overlayMaxWords, baseTopRows,
      occIndexAfterSparseRounds, inHeapHandoffCheckRounds,
      argmaxHeapMinSlack, occProbeMaxTotalRows, occIndexRebuildOvWords,
      telemetry)
  }

  /** Adjacent-pair weighted counts of a symbol table. */
  private def pairCounts(syms: DataFrame): DataFrame = {
    val arr = symbolsOf(col("s"))
    syms
      .select(explode(zip_with(
        slice(arr, lit(1), size(arr) - 1), slice(arr, lit(2), size(arr) - 1),
        (a, b) => struct(a.as("a"), b.as("b")))).as("p"), col("count"))
      .groupBy("p.a", "p.b").agg(sum("count").as("n"))
  }

  /** Probe depth for batched merge selection: the per-round argmax collects
    * the top-`BatchProbe` pairs and accepts the maximal EXACT batch (see
    * [[selectBatch]]). Deeper probes admit bigger batches in the late,
    * tie-heavy rounds at the cost of a slightly larger per-round collect
    * (rows of three short strings — KBs). The batch-width limiter is the
    * PROBE FLOOR — `selectBatch` can only accept pairs provably above
    * every count it cannot see, i.e. above top.last's count — and late
    * rounds are tie-heavy plateaus, so 512 rows of probe often share one
    * count and admit a 1-wide batch. 4096 reaches past the plateau; the
    * collect stays a TakeOrdered of ~200 KB (batch-width decay curve in
    * COVERAGE.md's BPE section). */
  val BatchProbe: Int = 4096

  /** Maximal batch of merges from the top pairs of one count table that is
    * PROVABLY identical to applying that many sequential BPE rounds.
    *
    * Walk `top` (already in the exact argmax total order: n desc, a asc,
    * b asc — strings in UTF-8 order). Accept a pair unless it CONFLICTS:
    * it shares a symbol string with an accepted pair's {a, b, a+b}, its own
    * concatenation a+b is an accepted pair's concat or ANY historical
    * merge's concat (`priorSymbols`), or it is a self-pair (a == b). Stop
    * at the first conflict, then truncate the accepted list to counts
    * STRICTLY greater than the stop count (the first conflict's n, or the
    * probe's last row when no conflict occurred inside the window).
    *
    * Why the truncated prefix equals sequential BPE, merge for merge:
    *  - Old pairs only DECREASE under a merge (an adjacency is lost only
    *    where a member is consumed), and a pair loses occurrences only if
    *    it shares a symbol with the merge — i.e. only CONFLICTING pairs
    *    decrease; accepted pairs are mutually disjoint, so their counts
    *    are untouched by the batch's earlier members.
    *  - Every table pair sorted above the first conflict is accepted, so
    *    every conflicting table pair has count ≤ stopCount.
    *  - NEW pairs all have the freshly-created symbol γ = a+b as a member.
    *    The conflict rules make γ genuinely fresh: not equal to any
    *    existing multi-char symbol (those are exactly the historical merge
    *    concats — initial symbols are single code points, so a 2+-char γ
    *    can only collide with a prior concat, which `priorSymbols` vetoes)
    *    and not re-created twice in a batch (concat ∈ used vetoes). Hence
    *    a new pair's count starts at 0 and gains only occurrences whose
    *    support is an OLD conflicting adjacency: (x,γ) arises exactly from
    *    old trigrams x·a·b, so n(x,γ) ≤ old n(x,a); (γ,y) ≤ old n(b,y);
    *    (γi,γj) across two batch members ≤ old n(bi,aj); (γ,γ) from
    *    a·b·a·b ≤ old n(b,a). Self-pairs are vetoed because their new
    *    pairs ((aa,a) from a·a·a) are supported by the ACCEPTED pair
    *    itself, not a conflicting one, and so escape the stopCount bound.
    *    With the vetoes, every new pair's count is ≤ some conflicting
    *    pair's old count ≤ stopCount.
    *  - Therefore at sequential step k every candidate other than the
    *    accepted suffix pk..pm — decreased old pairs, unseen tail pairs,
    *    new pairs — has count ≤ stopCount < n(pk): the accepted prefix IS
    *    the sequence of sequential argmaxes, ties and all (ties among
    *    accepted pairs resolve by the same (a, b) UTF-8 order the walk
    *    used). Batch members are mutually disjoint and cannot create or
    *    destroy each other's merge sites (that would need a shared or
    *    concat-colliding symbol, vetoed), so applying their replaces in
    *    acceptance order within one pass over a word equals applying them
    *    in m successive rounds. BpeBatchSpec pins batched ≡ sequential on
    *    adversarial fixtures (self-pairs, concat collisions, ties).
    *
    * The head of `top` alone is always a legal batch (one sequential
    * round), which is the fallback whenever the rules truncate everything. */
  private[graft] def selectBatch(top: Seq[(String, String, Long)],
      priorSymbols: scala.collection.Set[String]): Seq[(String, String)] =
    selectBatchEx(top, priorSymbols, complete = false)._1

  /** [[selectBatch]] generalized for the hybrid regime, which can see the
    * COMPLETE count table: with `complete = true` there is no probe floor —
    * a conflict-free walk of the whole order accepts everything (counts are
    * ≥ 1, so a stop count of 0 truncates nothing; the proof's "every
    * conflicting pair has count ≤ stopCount" holds vacuously when no pair
    * conflicts, because then no old pair decreases and every new pair needs
    * a conflicting support pair that does not exist). Also returns whether
    * the walk stopped on a CONFLICT — if it did, deeper probing cannot
    * change the batch (the walk stops at the first conflict by rule), so
    * an incomplete window is only worth re-probing deeper when the flag is
    * false. */
  private[graft] def selectBatchEx(top: Seq[(String, String, Long)],
      priorSymbols: scala.collection.Set[String], complete: Boolean)
      : (Seq[(String, String)], Boolean) = {
    if (top.isEmpty) return (Nil, false)
    val used = scala.collection.mutable.HashSet.empty[String]
    val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    // probe floor: can't see below an incomplete window
    var stopCount = if (complete) 0L else top.last._3
    var i = 0
    var stopped = false
    while (i < top.size && !stopped) {
      val (a, b, n) = top(i)
      if (a == b || used.contains(a) || used.contains(b) ||
          used.contains(a + b) || priorSymbols.contains(a + b)) {
        stopCount = n; stopped = true
      } else {
        accepted += ((a, b, n))
        used += a; used += b; used += (a + b)
      }
      i += 1
    }
    val exact = accepted.takeWhile(_._3 > stopCount).map(t => (t._1, t._2)).toSeq
    // the head is always a legal single sequential round
    (if (exact.isEmpty) Seq((top.head._1, top.head._2)) else exact, stopped)
  }

  /** Distributed rounds with DELTA pair recounting and EXACT merge
    * batching: the full explode + aggregation over every word runs ONCE;
    * each round then (1) collects the top-[[BatchProbe]] pairs and takes
    * the maximal provably-sequential batch ([[selectBatch]]), (2)
    * re-aggregates only the words containing any batch needle — before and
    * after the replaces — and folds the difference into the running count
    * table. Counts stay bit-identical to a full recount (long arithmetic,
    * exact deltas) and the batch is bit-identical to that many sequential
    * argmax rounds, so merges are unchanged from the naive loop; BpeSpec /
    * BpeBatchSpec force this branch against the local trainer. Per-round
    * input drops from |words| to |words containing a merged pair|, and the
    * sequential-round count drops by the mean batch size — the two factors
    * that decide 32k-vocab wall time in the >[[LocalTrainMaxWords]] regime
    * (the one weak regime called out by rounds 7-8; below the threshold
    * [[trainLocal]] takes over). */
  private def trainDistributed(words: DataFrame, numMerges: Int,
      hybridMaxPairs: Long, inHeapMaxBytes: Long, overlayMaxAffected: Int,
      overlayMaxWords: Int, baseTopRows: Int,
      occIndexAfterSparse: Int, inHeapHandoffCheckRounds: Int,
      argmaxHeapMinSlack: Long, occProbeBudget: Int, occRebuildOvWords: Int,
      telemetry: TrainTelemetry): Seq[(String, String)] = {
    // Eager localCheckpoint, not cache: each round's counts plan references
    // the previous round's syms plan TWICE (before/after aggregation), so
    // chained caches grow the logical plan quadratically — a 100-round run
    // dies building plan strings. Checkpointing pins the rows and resets
    // the plan to a constant-size LogicalRDD; superseded checkpoint blocks
    // are released round by round (eager successors, same fix as
    // TransitSssp). Single-JVM lineage loss is irrelevant (local mode;
    // a lost-executor cluster run restarts the training job).
    val syms = words.select(toSymbols(col("word")).as("s"),
      col("count").cast("long").as("count")).transform(ckpt)
    val counts = pairCounts(syms).transform(ckpt) // the one full aggregation
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    telemetry.lastRegimes.clear()
    // Hybrid gate: the checkpoint made the row count free, and the pair
    // TABLE (unique adjacent symbol pairs — alphabet-driven) is orders
    // smaller than the word table that failed the local gate, so it almost
    // always fits the driver: argmax + batch selection become in-heap (no
    // TakeOrdered job, no probe floor truncating late tie-heavy batches)
    // and the per-round distributed work drops to the delta aggregation +
    // the syms rewrite, overlapped. Above the bound, the fully-distributed
    // table loop keeps every row on the cluster.
    if (counts.count() <= hybridMaxPairs) {
      // In-heap gate on the MEASURED encoded footprint (see
      // InHeapStateMaxBytes): a word table too big to pass the row gate
      // can still be a modest int table — collect once (streamed), and
      // every round is O(affected words) driver work instead of two
      // full-table Spark jobs.
      import words.sparkSession.implicits._
      val footprint =
        if (inHeapMaxBytes <= 0L) Long.MaxValue else inHeapFootprint(syms)
      if (footprint <= inHeapMaxBytes) {
        telemetry.lastRegimes.add("inheap")
        val rel = org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistCheckpoint _
        val idx = new PairMapIndex(argmaxHeapMinSlack)
        counts.as[(String, String, Long)].collect()
          .foreach { case (a, b, n) => idx.seed(a, b, n) }
        rel(counts)
        import scala.jdk.CollectionConverters._
        val state = buildInHeapState(
          syms.as[(String, Long)].toLocalIterator().asScala)
        rel(syms) // encoded; the checkpoint blocks can go
        trainInHeap(state, idx, merges, numMerges)
      } else trainHybrid(syms, counts, merges, numMerges, hybridMaxPairs,
        inHeapMaxBytes, overlayMaxAffected, overlayMaxWords, baseTopRows,
        occIndexAfterSparse, inHeapHandoffCheckRounds, argmaxHeapMinSlack,
        occProbeBudget, occRebuildOvWords, telemetry)
    } else trainTableLoop(syms, counts, merges, numMerges,
      overlayMaxAffected, overlayMaxWords, baseTopRows, occIndexAfterSparse,
      occProbeBudget, occRebuildOvWords, telemetry)
    merges.toSeq
  }

  /** Estimated resident bytes of the INT-ENCODED in-heap state for this
    * symbol table — one agg job measuring symbol occurrences and words
    * (the distinct-symbol vocabulary itself is alphabet + merges, noise).
    * This is what [[InHeapStateMaxBytes]] gates: the actual arrays
    * [[trainInHeap]] holds, not the string-byte proxy the r14 gate used
    * (which overstated the post-encoding footprint ~4-8× and kept
    * fitting corpora on the 0.59 s/merge distributed floor). */
  private def inHeapFootprint(syms: DataFrame): Long = {
    val r = syms.agg(
      coalesce(sum(size(symbolsOf(col("s"))).cast("long")), lit(0L)),
      count(lit(1))).head()
    r.getLong(0) * InHeapBytesPerSymbol + r.getLong(1) * InHeapBytesPerWord
  }

  /** Growable primitive int buffer — the occurrence index's value type.
    * `ArrayBuffer[Int]` would box every entry (≥ 16 B each); at the
    * r15 gate sizes the index holds ~100M entries, so primitives are the
    * difference between ~0.8 GB and ~2 GB of index. */
  private final class IntBuf(initial: Int) {
    private var arr = new Array[Int](initial)
    private var n = 0
    def size: Int = n
    def add(v: Int): Unit = {
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length << 1)
      arr(n) = v; n += 1
    }
    def apply(i: Int): Int = arr(i)
  }

  private final class LongBuf(initial: Int) {
    private var arr = new Array[Long](initial)
    private var n = 0
    def add(v: Long): Unit = {
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length << 1)
      arr(n) = v; n += 1
    }
    def toArray: Array[Long] = java.util.Arrays.copyOf(arr, n)
  }

  /** INT-ENCODED in-heap training state (r15): words are `Array[Int]`
    * over an interned symbol vocabulary — 4 B per symbol occurrence
    * instead of a ~50-60 B String object each, which is what raises the
    * [[InHeapStateMaxBytes]] corpus ceiling ~4-8× over the r14 string
    * representation. The occurrence index keys pairs as packed longs
    * (hi 32 = left id, lo 32 = right id) over primitive buffers. Interned
    * id equality ⇔ string equality, so every comparison the string
    * trainer makes is reproduced exactly. */
  private final class InHeapState(
      val syms: Array[Array[Int]], val counts: Array[Long],
      val vocab: scala.collection.mutable.ArrayBuffer[String],
      val symId: scala.collection.mutable.HashMap[String, Int],
      val index: scala.collection.mutable.HashMap[Long, IntBuf]) {
    def intern(s: String): Int =
      symId.getOrElseUpdate(s, { vocab += s; vocab.size - 1 })
  }

  private def pairKey(a: Int, b: Int): Long =
    (a.toLong << 32) | (b.toLong & 0xffffffffL)

  /** Stream the (symbol-string, count) rows into the int-encoded state —
    * the caller hands a toLocalIterator so the transient string peak is
    * ONE partition, not the table; each word's split symbols intern and
    * the strings die immediately. */
  private def buildInHeapState(
      words: Iterator[(String, Long)]): InHeapState = {
    val vocab = scala.collection.mutable.ArrayBuffer.empty[String]
    val symId = scala.collection.mutable.HashMap.empty[String, Int]
    def intern(s: String): Int =
      symId.getOrElseUpdate(s, { vocab += s; vocab.size - 1 })
    val index = scala.collection.mutable.HashMap.empty[Long, IntBuf]
    val symsBuf = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    val countsBuf = new LongBuf(1024)
    var wi = 0
    words.foreach { case (w, c) =>
      val parts = w.trim.split(" +")
      val s = new Array[Int](parts.length)
      var i = 0
      while (i < parts.length) { s(i) = intern(parts(i)); i += 1 }
      symsBuf += s
      countsBuf.add(c)
      i = 0
      while (i < s.length - 1) {
        // dedup consecutive repeats cheaply; full dedup is unnecessary
        // (the per-round visited set already coalesces)
        if (i == 0 || s(i - 1) != s(i) || s(i) != s(i + 1))
          index.getOrElseUpdate(pairKey(s(i), s(i + 1)), new IntBuf(4)).add(wi)
        i += 1
      }
      wi += 1
    }
    new InHeapState(symsBuf.toArray, countsBuf.toArray, vocab, symId, index)
  }

  /** Incremental in-heap rounds over the int-encoded word table — the
    * deep-merge regime (see [[InHeapStateMaxBytes]]). The semantics are
    * the hybrid loop's, verbatim: the SAME pair map, the SAME batch
    * selection ([[selectBatchFromMap]]), and a per-word rewrite whose int
    * comparisons are the interned twins of [[rewriteWord]]'s string
    * comparisons — so merges are bit-identical across regimes (BpeSpec
    * pins it). The cost model: an occurrence index (pair → word indices,
    * lazily stale — a rewrite appends under every pair that now involves
    * a batch-created symbol, dead entries are skipped at use) makes a
    * round O(words containing a batch pair), which in the deep tail is
    * hundreds of rows — the 0.59 s/merge Spark scheduling floor the r13
    * nat run measured becomes microseconds of driver work (32k MEASURED
    * at 2025 s in r14). */
  private def trainInHeap(st: InHeapState, map: PairMapIndex,
      merges: scala.collection.mutable.ArrayBuffer[(String, String)],
      numMerges: Int): Unit = {
    val syms = st.syms
    val counts = st.counts
    val vocab = st.vocab
    val index = st.index
    // prior grows by exactly the batch each round — maintained
    // incrementally (a per-round rebuild is O(merges) strings, which over
    // a 32k-deep run is O(M^2) of pure overhead in the regime that exists
    // to erase per-round overhead)
    val prior = scala.collection.mutable.HashSet.empty[String]
    merges.foreach { case (a, b) => prior += (a + b) }
    while (merges.size < numMerges && map.nonEmpty) {
      val batch = selectBatchFromMap(map, prior).take(numMerges - merges.size)
      merges ++= batch
      batch.foreach { case (a, b) => prior += (a + b) }
      // int view of the batch, in acceptance order; the merged symbol
      // interns once per round (fresh id — prior/conflict vetoes keep
      // concats from colliding with live symbols, and a collision would
      // only alias equal strings anyway)
      val batchIds: Array[(Int, Int, Int)] = batch.iterator
        .map { case (a, b) => (st.intern(a), st.intern(b), st.intern(a + b)) }
        .toArray
      val abIds: Array[Int] = batchIds.map(_._3)
      def isBatchSym(id: Int): Boolean = {
        var j = 0; var f = false
        while (j < abIds.length && !f) { f = abIds(j) == id; j += 1 }
        f
      }
      val visited = new java.util.BitSet(syms.length)
      batchIds.foreach { case (aId, bId, _) =>
        val k0 = pairKey(aId, bId)
        index.get(k0).foreach { occ =>
          var oi = 0
          while (oi < occ.size) {
            val w = occ(oi)
            oi += 1
            if (!visited.get(w)) {
              visited.set(w)
              val s = syms(w)
              // a stale entry (pair no longer present) rewrites to itself
              // with zero delta — harmless, skipped by the quick probe
              var contains = false
              var i = 0
              while (i < s.length - 1 && !contains) {
                var j = 0
                while (j < batchIds.length && !contains) {
                  val p = batchIds(j)
                  if (s(i) == p._1 && s(i + 1) == p._2) contains = true
                  j += 1
                }
                i += 1
              }
              if (contains) {
                val c = counts(w)
                i = 0
                while (i < s.length - 1) {
                  map.add((vocab(s(i)), vocab(s(i + 1))), -c)
                  i += 1
                }
                var out = s
                var bi = 0
                while (bi < batchIds.length) {
                  val p = batchIds(bi)
                  out = rewriteWordInt(out, p._1, p._2, p._3)
                  bi += 1
                }
                syms(w) = out
                i = 0
                while (i < out.length - 1) {
                  map.add((vocab(out(i)), vocab(out(i + 1))), c)
                  // newly-present pairs always involve a batch-created
                  // symbol (only positions at a merge site change)
                  if (isBatchSym(out(i)) || isBatchSym(out(i + 1)))
                    index.getOrElseUpdate(pairKey(out(i), out(i + 1)),
                      new IntBuf(4)).add(w)
                  i += 1
                }
              }
            }
          }
        }
        index.remove(k0)
      }
    }
  }

  /** One merge (aId, bId) → abId applied to an int-encoded symbol array —
    * left-to-right, non-overlapping: the interned twin of [[rewriteWord]]
    * (id equality ⇔ string equality, so match sites are identical).
    * Returns the SAME array when the pair is absent. */
  private def rewriteWordInt(s: Array[Int], a: Int, b: Int,
      ab: Int): Array[Int] = {
    if (s.length < 2) return s
    var contains = false
    var i = 0
    while (i < s.length - 1 && !contains) {
      if (s(i) == a && s(i + 1) == b) contains = true
      i += 1
    }
    if (!contains) return s
    val out = new Array[Int](s.length)
    var n = 0
    i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
        out(n) = ab; n += 1; i += 2
      } else { out(n) = s(i); n += 1; i += 1 }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** Hybrid rounds: word/symbol table distributed, pair-count table in a
    * driver map. Each round (1) takes the exact argmax batch straight from
    * the map — the probe starts at [[BatchProbe]] and deepens only when the
    * window ends without a CONFLICT (a conflict-stopped walk is final at
    * any depth), so batches are the widest the selectBatch proof admits;
    * (2) aggregates the signed pair-count delta over affected words and
    * collects it (small: only pairs adjacent to a merge site change);
    * (3) rewrites + checkpoints syms. (2) and (3) scan the same pinned
    * checkpoint and run CONCURRENTLY — the round's wall is max, not sum.
    * Counts stay exact longs; merges stay bit-identical to sequential BPE
    * (BpeBatchSpec randomized parity runs through this loop). If merges
    * grow the map past 4× the gate bound, the remaining rounds hand off to
    * the fully-distributed table loop mid-training.
    *
    * Keeping the per-round rewrite EAGER is a measured decision: a lazy
    * variant that stacked the batch replaces over the last checkpoint and
    * re-materialized every 16 merges paid the chain replay on every delta
    * scan (every row × pending replaces, 4-5 s/round at 2.5M words vs
    * 0.7 s eager) — and a naive per-round `when(contains, replace)` layer
    * stack is worse still: Catalyst's CollapseProject substitutes each
    * layer into the 3+ references above it, growing the collapsed
    * expression 3^layers (40+ CPU-minutes of optimizer time on a 60-word
    * fixture at 16 layers).
    *
    * r16: the word table FREEZES with stable ids and SPARSE rounds
    * (affected ≤ [[SymsOverlayMaxAffected]] — the deep-merge shape whose
    * ~0.59 s/merge Spark floor the r13 COVERAGE measured on this loop)
    * collect the affected words and fold driver-exact deltas straight
    * into the pair map — ONE scan-only job, no syms write, no delta agg;
    * the bounded (wid → symbols) overlay patches subsequent scans and
    * refreezes on its own bound. Dense rounds keep the eager
    * rewrite-∥-delta shape above (which folds the overlay in). The
    * overlay is materialized back into a plain (s, count) frame at every
    * hand-off boundary, so the in-heap and table-loop successors are
    * oblivious. */
  private def trainHybrid(symsInit: DataFrame, countsInit: DataFrame,
      merges: scala.collection.mutable.ArrayBuffer[(String, String)],
      numMerges: Int, hybridMaxPairs: Long,
      // required, not defaulted: a 0 default here silently disabled the
      // in-heap regime for any future internal caller (r14 ADVICE)
      inHeapMaxBytes: Long, overlayMaxAffected: Int, overlayMaxWords: Int,
      baseTopRows: Int, occIndexAfterSparse: Int,
      inHeapHandoffCheckRounds: Int, argmaxHeapMinSlack: Long,
      occProbeBudget: Int, occRebuildOvWords: Int,
      telemetry: TrainTelemetry): Unit = {
    val spark = symsInit.sparkSession
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    telemetry.lastRegimes.add("hybrid")
    val rel = org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistCheckpoint _
    val map = new PairMapIndex(argmaxHeapMinSlack)
    countsInit.as[(String, String, Long)].collect()
      .foreach { case (a, b, n) => map.seed(a, b, n) }
    rel(countsInit)
    val words = new WordOverlay(symsInit, overlayMaxWords)
    // r17: the hybrid's deep-round floor was the same per-round affected
    // contains-scan the table loop had (counts live in the driver map
    // here, so the scan was the round's ONLY distributed job) — the
    // shared occurrence index replaces it with one pruned task
    val occ = new OccurrenceIndex(words, occIndexAfterSparse, occProbeBudget,
      occRebuildOvWords, telemetry)
    var round = 0
    while (merges.size < numMerges && map.nonEmpty) {
      val prior = merges.iterator.map { case (a, b) => a + b }.toSet
      val batch = selectBatchFromMap(map, prior).take(numMerges - merges.size)
      merges ++= batch
      occ.maybeBuild() // before `cur` — a build refreezes the overlay
      val needles = batch.map { case (a, b) => s" $a  $b " }
      val containsAny = needles.map(n => col("s").contains(lit(n))).reduce(_ || _)
      def replaceAll(c: Column): Column = batch.foldLeft(c) {
        case (acc, (a, b)) => applyMerge(acc, a, b)
      }
      val cur = words.patched
      val (affRows, provenDense) =
        occ.probe(batch, needles, overlayMaxAffected).getOrElse {
          val r = cur.filter(containsAny)
            .limit(overlayMaxAffected + 1).collect()
          (r.iterator.map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
            .toIndexedSeq, false)
        }
      if (!provenDense && affRows.length <= overlayMaxAffected) {
        // sparse round: driver rewrite + exact deltas into the map
        val deltas =
          scala.collection.mutable.HashMap.empty[(String, String), Long]
        affRows.foreach { case (wid, s, c) =>
          addPairDeltas(deltas, s, -c)
          val out = batch.foldLeft(s) { case (acc, (a, b)) =>
            acc.replace(s" $a  $b ", s" $a$b ")
          }
          addPairDeltas(deltas, out, c)
          words.set(wid, out, c)
          occ.recordRewrite(wid, out, c)
        }
        deltas.foreach { case (k, d) => map.add(k, d) }
        words.maybeRefreeze() // independent of the index (own overlay)
        occ.onSparseRound(affRows.length)
      } else {
        // dense round: the rewrite's checkpoint job runs while the delta
        // aggregation collects — both scan the same pinned frames. The
        // collected delta is BOUNDED here (unlike the table loop's dense
        // shape): changed pairs are a subset of the live pair universe,
        // which the hybrid gate caps at ~1.5× hybridMaxPairs.
        val nextSymsF = Future {
          cur.select(col("wid"),
            when(containsAny, replaceAll(col("s"))).otherwise(col("s")).as("s"),
            col("count")).transform(ckpt)
        }
        // same signed one-shuffle delta as the table loop (scaladoc there)
        val affected = cur.filter(containsAny)
        val delta = pairCounts(affected.select(explode(array(
            struct(col("s"), (-col("count")).as("count")),
            struct(replaceAll(col("s")).as("s"), col("count")))).as("r"))
            .select(col("r.s").as("s"), col("r.count").as("count")))
          .filter(col("n") =!= 0L)
          .as[(String, String, Long)].collect()
        val nextSyms = Await.result(nextSymsF, 10.minutes)
        delta.foreach { case (a, b, d) => map.add((a, b), d) }
        words.replaceBase(nextSyms)
        occ.onDenseRound() // base replaced — index invalid
      }
      round += 1
      if (map.size > hybridMaxPairs + hybridMaxPairs / 2) {
        // the pair map outgrew the driver bound: hand off to the
        // distributed table loop
        occ.release() // built on a freeze the handoff is about to fold
        val handoff = words.handoff()
        trainTableLoop(handoff, pairCounts(handoff).transform(ckpt),
          merges, numMerges, overlayMaxAffected, overlayMaxWords, baseTopRows,
          occIndexAfterSparse, occProbeBudget, occRebuildOvWords, telemetry)
        return
      }
      // Deep-merge hand-off (r14): merging SHRINKS the symbol strings, so
      // a table over the in-heap byte gate at round 0 can fit later —
      // exactly when rounds degenerate to one merge each and the Spark
      // scheduling floor dominates. Re-measure on a cadence whose agg
      // costs about one round; on fit, collect and finish in-heap
      // (same map, same batch selection — merges stay bit-identical).
      if (inHeapMaxBytes > 0L && merges.size < numMerges && map.nonEmpty &&
          round % inHeapHandoffCheckRounds == 0) {
        val footprint = inHeapFootprint(words.patched)
        if (footprint <= inHeapMaxBytes) {
          telemetry.lastRegimes.add("inheap")
          import scala.jdk.CollectionConverters._
          val state = buildInHeapState(words.patched.select("s", "count")
            .as[(String, Long)].toLocalIterator().asScala)
          occ.release()
          words.release()
          trainInHeap(state, map, merges, numMerges)
          return
        }
      }
    }
    occ.release()
    words.release()
  }

  /** Slack term of the per-round churn threshold that decides SCAN vs
    * HEAP argmax mode (see [[PairMapIndex.roundStart]]). Production
    * DEFAULT of train's per-call parameter (r18): fixtures are too small
    * to cross it, so the heap≡scan parity spec forces scan mode by
    * passing a negative value per call. */
  private[graft] val ArgmaxHeapMinSlack: Long = 1024L

  /** Exact argmax index over the driver-resident pair-count map — the
    * shared selection state of the hybrid and in-heap regimes (r15). The
    * deep-round floor of both regimes was the O(P) full-map scan per
    * argmax probe (~0.5–0.7 s/round at P ≈ 4.5M pairs on the 7M-word
    * corpus — the scan, not the rewrite, once touched words fall to
    * thousands). Counts only change for pairs adjacent to a merge site,
    * so a lazy-deletion candidate heap re-ranks only the updated pairs:
    *  - every live pair's CURRENT count has a heap entry (pushed at
    *    seed/rebuild and at every update while the heap is active, and
    *    the heap is rebuilt from the map whenever it re-activates), so
    *    the best FRESH entry is the exact argmax;
    *  - stale entries (count no longer current) and same-key duplicates
    *    are dropped at poll (per-probe collected-key set); polled fresh
    *    entries re-insert after the probe — still candidates;
    *  - a heap grown past 4× the live map rebuilds (stale-mass bound).
    * Maintenance is ADAPTIVE: a high-churn round (early training) pays
    * more for heap pushes than one scan, so the index drops to scan mode
    * there and re-enters heap mode when churn falls below live/8 +
    * [[ArgmaxHeapMinSlack]]. Both modes produce the identical
    * (n desc, a asc, b asc) UTF-8 rank order — merges are bit-identical
    * (BpeBatchSpec pins heap ≡ scan ≡ sequential). */
  private final class PairMapIndex(argmaxHeapMinSlack: Long = ArgmaxHeapMinSlack) {
    private val map =
      scala.collection.mutable.HashMap.empty[(String, String), Long]
    private var heap: java.util.PriorityQueue[(String, String, Long)] = null
    // Starts HIGH so round 0 runs in SCAN mode (r15 review): the first
    // roundStart has observed no churn yet, and round 0 is the
    // highest-churn round of a training run — entering heap mode there
    // pays a full O(P log P) rebuild plus millions of per-update heap
    // pushes that round 1's detector would immediately discard. One
    // observed low-churn round flips to the heap. (MaxValue/2, not
    // MaxValue: add() increments and must not overflow.)
    private var updatesSinceRound = Long.MaxValue / 2

    def size: Int = map.size
    def nonEmpty: Boolean = map.nonEmpty

    /** Initial load (no heap yet — the first roundStart decides mode). */
    def seed(a: String, b: String, n: Long): Unit = map.update((a, b), n)

    /** Read-modify-write: fold `delta` into k's count, dropping the pair
      * at ≤ 0 — the exact update rule both training loops used inline. */
    def add(k: (String, String), delta: Long): Unit = {
      val n = map.getOrElse(k, 0L) + delta
      if (n > 0L) {
        map.update(k, n)
        if (heap != null) heap.add((k._1, k._2, n))
      } else map.remove(k) // every heap entry of k goes stale
      updatesSinceRound += 1
    }

    /** Once per round, before the probes: pick the mode for this round's
      * argmax from last round's churn. */
    def roundStart(): Unit = {
      val highChurn =
        updatesSinceRound > map.size / 8 + argmaxHeapMinSlack
      updatesSinceRound = 0L
      if (highChurn) heap = null
      else if (heap == null || heap.size > 4L * map.size + 1024L) rebuild()
    }

    private def rebuild(): Unit = {
      val h = new java.util.PriorityQueue[(String, String, Long)](
        math.max(16, map.size), new java.util.Comparator[(String, String, Long)] {
          def compare(x: (String, String, Long), y: (String, String, Long)): Int =
            pairRankCompare(x, y)
        })
      map.foreach { case ((a, b), n) => h.add((a, b, n)) }
      heap = h
    }

    /** Top-k live pairs in exact rank order; `complete` = the result
      * covers every live pair. */
    def topK(k: Int): (Seq[(String, String, Long)], Boolean) =
      if (heap == null) (topPairs(map, k), k >= map.size)
      else {
        val out = new scala.collection.mutable.ArrayBuffer[(String, String, Long)](
          math.min(k, map.size))
        val seen = scala.collection.mutable.HashSet.empty[(String, String)]
        while (out.size < k && !heap.isEmpty) {
          val e = heap.poll()
          val key = (e._1, e._2)
          if (!seen.contains(key) && map.get(key).contains(e._3)) {
            out += e; seen += key
          } // stale and duplicate entries drop permanently — self-cleaning
        }
        out.foreach(heap.add) // fresh candidates stay candidates
        (out.toSeq, out.size >= map.size)
      }
  }

  /** Exact argmax batch from the driver-resident count map: the total order
    * is (n desc, a asc, b asc) in UTF-8 — identical to the table loop's
    * `orderBy(desc("n"), asc("a"), asc("b"))`. */
  private def selectBatchFromMap(idx: PairMapIndex,
      prior: scala.collection.Set[String]): Seq[(String, String)] = {
    idx.roundStart()
    var k = BatchProbe
    while (true) {
      val (top, complete) = idx.topK(k)
      val (batch, conflictStopped) = selectBatchEx(top, prior, complete)
      if (complete || conflictStopped) return batch
      k = math.min(idx.size, k * 8)
    }
    Nil
  }

  /** (n desc, a asc, b asc) UTF-8 rank comparison — negative when x ranks
    * before y. */
  private def pairRankCompare(x: (String, String, Long),
      y: (String, String, Long)): Int = {
    val c = java.lang.Long.compare(y._3, x._3)
    if (c != 0) c
    else {
      val c2 = graft.util.Utf8Order.compare(x._1, y._1)
      if (c2 != 0) c2 else graft.util.Utf8Order.compare(x._2, y._2)
    }
  }

  /** Top-k map entries in rank order via a bounded worst-at-head heap —
    * O(P log k) per probe, no full sort of the pair table. */
  private def topPairs(
      map: scala.collection.mutable.HashMap[(String, String), Long],
      k: Int): Seq[(String, String, Long)] = {
    val worstAtHead = new java.util.Comparator[(String, String, Long)] {
      def compare(x: (String, String, Long), y: (String, String, Long)): Int =
        pairRankCompare(y, x)
    }
    val pq = new java.util.PriorityQueue[(String, String, Long)](
      math.max(1, math.min(k, map.size)), worstAtHead)
    map.foreach { case ((a, b), n) =>
      val cand = (a, b, n)
      if (pq.size < k) pq.add(cand)
      else if (pairRankCompare(cand, pq.peek()) < 0) { pq.poll(); pq.add(cand) }
    }
    val out = new Array[(String, String, Long)](pq.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = pq.poll(); i -= 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** Driver rows collected from the frozen pair-count base at each freeze —
    * the visible top of the over-budget table (see [[trainTableLoop]]).
    * 64k rows × ~100 B ≈ 6 MB driver heap; everything below the 64k-th
    * count hides behind the exactness floor until a refreeze. Production
    * DEFAULT of [[train]]'s `baseTopRows` parameter (per-call spec hook —
    * the plateau-fallback spec shrinks it to force a max-count tie wider
    * than the visible top). */
  private[graft] val BaseTopRows: Int = 65536

  /** Overlay-size refreeze trigger: the driver holds CURRENT counts for
    * every pair touched since the freeze — high-churn phases (early
    * training) grow it fast, so fold it back into the distributed base
    * before it approaches the hybrid regime's driver budget. */
  private[graft] val TableLoopOvMaxPairs: Int = 1 << 20

  /** Affected-row bound for the table loop's SPARSE round shape: at or
    * below it the round collects the affected words (wid, s, count),
    * rewrites them and folds exact pair deltas ON THE DRIVER — one
    * scan-only Spark job, no syms write. Above it (dense early rounds)
    * the round keeps the distributed delta agg + full rewrite
    * checkpoint. 64k rows × ~100 B ≈ 6.5 MB per collect. Production
    * DEFAULT of [[train]]'s `overlayMaxAffected` parameter — specs pass
    * small values per call to force the dense shape (r16 ADVICE replaced
    * the @volatile spec-hook var: process-global mutable state, unsafe
    * under parallel test execution). Cost-shaping only — every shape is
    * parity-pinned to identical merges. */
  private[graft] val SymsOverlayMaxAffected: Int = 65536

  /** Word-overlay refreeze trigger: rewritten rows accumulate in a
    * driver map that broadcasts into every subsequent scan — fold it
    * back into a fresh syms checkpoint before the per-round broadcast
    * outgrows useful size. Production DEFAULT of [[train]]'s
    * `overlayMaxWords` parameter (per-call, like the affected bound). */
  private[graft] val SymsOverlayMaxWords: Int = 65536

  /** Hash-bucket CAP of the table loop's OCCURRENCE INDEX (r17 — the
    * priced rung from the r16 COVERAGE): (adjacent pair) → (wid, frozen
    * symbols, count), partitioned by pair so a deep round's probe runs ONE
    * pruned task over its merge-site bucket instead of a contains-scan of
    * the full word table. r20 (guide §2.2: partition counts must scale
    * with the DATA, not a constant tuned for one corpus): the bucket count
    * is sized per build toward [[OccIndexEntriesPerBucket]] entries/bucket
    * from the previous build's measured entry count, floored at the
    * session's default parallelism and capped here — the old fixed 512 ran
    * 512-task builds on fixture corpora (0.9 s of pure task scheduling per
    * rebuild-bound bench row) and would under-split a 10⁹-entry corpus. */
  private[graft] val OccIndexBuckets: Int = 4096

  /** Per-bucket entry target of the occurrence index: ~50k rows ≈ a
    * sub-ms pruned-task read at ~100-200 B/entry (the r17 512-bucket
    * sizing for the 25M-entry wide corpus, now kept invariant under
    * corpus growth instead of the bucket count). */
  private[graft] val OccIndexEntriesPerBucket: Long = 50000L

  /** Consecutive SPARSE rounds before the table loop builds the occurrence
    * index (deep-regime detector): early training alternates dense/sparse
    * and a dense round invalidates the index (full base replacement), so
    * building eagerly would thrash corpus-scale index builds; deep
    * training is thousands of consecutive sparse rounds, where one build
    * amortizes to noise. Production DEFAULT of [[train]]'s
    * `occIndexAfterSparseRounds` parameter; negative disables the index
    * entirely (the measured A/B control and the forced-scan parity spec). */
  private[graft] val OccIndexAfterSparseRounds: Int = 32

  /** Widest batch the index probe serves: the per-task truncation bound
    * multiplies by the batch width (duplicates — one entry per contained
    * batch pair per word — are only deduplicated on the driver), so wide
    * early-training batches keep the scan path; deep rounds, the regime
    * the index exists for, run batches of 1-4. */
  private[graft] val OccProbeMaxBatch: Int = 8

  /** Hard TOTAL budget (entries, summed across a probe's tasks) for the
    * occurrence-index probe's buffered (wid, symbols, count) rows — the
    * driver-exposure bound (r17 ADVICE: the proof-sized cap alone reached
    * ~4.6M entries/task at the 512k overlay bound). At ~100-200 B/entry
    * this is ≤ ~200 MB worst-case transient, and the worst case needs a
    * dense round to land exactly while the index is live. Above the
    * budget's per-partition share, truncation stops PROVING density and
    * the probe returns inconclusive instead — the bound+1-limited scan
    * fallback decides, so answers never change. With the default
    * overlayMaxAffected (64k) the dense-proof fast path stays available
    * for probe overlays up to ~65k words. */
  private[graft] val OccProbeMaxTotalRows: Int = 1 << 20

  /** Bound on the occurrence index's OWN driver overlay — every word
    * rewritten since the index build (decoupled from WordOverlay's
    * checkpoint cycle, whose refreezes would otherwise force a corpus-
    * scale index rebuild every few rounds in mid-training regimes —
    * measured r17: nat-3M hybrid refroze every ~12 rounds × ~9 s rebuild
    * and ate the 3×-per-round probe win whole). When the map outgrows the
    * bound the index DROPS (scan fallback) and the wasted-build backoff
    * settles, so high-churn regimes self-tune back to the scan while deep
    * regimes (tens of rewrites per round) never hit it. ~512k entries ×
    * ~80 B ≈ 40 MB driver heap; per-round driver needle-matching over the
    * map stays ≤ tens of ms. */
  private[graft] val OccIndexOvMaxWords: Int = 512 * 1024

  /** Deep-regime admission on the OBSERVED affected-set size: the index
    * builds only when the exponential moving average of recent sparse
    * rounds' affected rows is at or below this. The economics (measured
    * r17): a corpus-scale build costs ~9 s; the probe saves ~0.2-0.35
    * s/round over the scan; the build amortizes only if the index lives
    * ≥ [[OccIndexOvMaxWords]]/meanAff rounds before its overlay bound
    * drops it — at mean aff 16k (nat-3M mid-training) that is ~32 rounds
    * ≈ 6 s saved < 9 s build (measured: the streak-only detector lost
    * 248 s vs the 151 s scan control there), at mean aff ≤ 4k it is
    * ≥ 128 rounds and the build wins by an order; wide-corpus deep rounds
    * sit at 1-20. */
  private[graft] val OccIndexMaxMeanAff: Double = 4096.0

  /** Frozen word table + bounded driver overlay — the r16 write-kill
    * lever, SHARED by both distributed loops (review r16: the mechanics
    * were duplicated): syms checkpoints ONCE with stable word ids; sparse
    * rounds record rewritten words in a driver map that patches
    * subsequent scans via a bounded broadcast and refreezes into a fresh
    * checkpoint on its own bound; dense rounds replace the base outright
    * (folding the overlay in). Owns the base checkpoint — callers exit
    * through [[handoff]] or [[release]]. */
  private final class WordOverlay(symsInit: DataFrame, maxWords: Int) {
    private val spark = symsInit.sparkSession
    def session: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    private val rel =
      org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistCheckpoint _
    private var base: DataFrame = {
      val b = symsInit.withColumn("wid", monotonically_increasing_id())
        .select(col("wid"), col("s"), col("count")).transform(ckpt)
      rel(symsInit)
      b
    }
    private val ovW = scala.collection.mutable.HashMap.empty[Long, String]
    // word counts are IMMUTABLE (corpus frequencies) — kept alongside the
    // overlay strings so the occurrence-index probe can serve overlay
    // rows without a base lookup (r17)
    private val ovC = scala.collection.mutable.HashMap.empty[Long, Long]
    def overlaySize: Int = ovW.size
    /** Overlay rows as (wid, current symbols, count) — driver-side
      * reconciliation input for the occurrence-index probe. */
    def overlayRows: Iterator[(Long, String, Long)] =
      ovW.iterator.map { case (w, s) => (w, s, ovC(w)) }
    def overlayContains(wid: Long): Boolean = ovW.contains(wid)
    /** The effective word table: the frozen base patched by the overlay. */
    def patched: DataFrame =
      if (ovW.isEmpty) base
      else base.join(broadcast(ovW.iterator.map { case (w, v) => (w, v) }
          .toSeq.toDF("wid", "ov_s")), Seq("wid"), "left")
        .select(col("wid"), coalesce(col("ov_s"), col("s")).as("s"),
          col("count"))
    def set(wid: Long, s: String, count: Long): Unit = {
      ovW.update(wid, s); ovC.update(wid, count)
    }
    /** Refreezes when the overlay crosses its bound. An overlay refreeze
      * does NOT invalidate a live occurrence index: the index masks
      * rewritten words through its own ovI overlay (every set() lands
      * there via the caller), so entries keyed to the old freeze are
      * never served stale — both call sites rely on this invariant and
      * deliberately take no action on the return (r17 ADVICE: the
      * previous doc said the index "must rebuild", inviting an
      * unnecessary rebuild). Boolean kept for spec observability only. */
    def maybeRefreeze(): Boolean =
      if (ovW.size > maxWords) { refreeze(); true } else false
    def refreeze(): Unit = if (ovW.nonEmpty) {
      val nb = patched.transform(ckpt)
      rel(base); base = nb; ovW.clear(); ovC.clear()
    }
    /** Freeze-boundary read view for index builds: folds the overlay and
      * returns the (wid, s, count) base. Ownership stays here — callers
      * must not unpersist it. */
    def frozen(): DataFrame = { refreeze(); base }
    /** Dense-round replacement; `next` must carry (wid, s, count) and
      * already fold the overlay (derive it from [[patched]]). */
    def replaceBase(next: DataFrame): Unit = {
      rel(base); base = next; ovW.clear(); ovC.clear()
    }
    /** Plain (s, count) CHECKPOINT for a successor regime, releasing this
      * overlay's state — unpersistCheckpoint only releases bare
      * LogicalRDDs, so handing a projection would leak the base. */
    def handoff(): DataFrame = {
      refreeze()
      val h = base.select(col("s"), col("count")).transform(ckpt)
      rel(base)
      h
    }
    def release(): Unit = rel(base)
  }

  /** OCCURRENCE INDEX shared by both distributed loops (r17 — the rung
    * the r16 COVERAGE priced): (adjacent pair) → (wid, frozen symbols,
    * count), hash-partitioned by pair into [[OccIndexBuckets]] and locally
    * checkpointed at a FREEZE BOUNDARY (the word overlay empty, so frozen
    * == current). A deep round's affected set then comes from ONE
    * partition-pruned task per batch pair plus a driver reconciliation
    * against the bounded word overlay — replacing the full-table
    * contains-scan, the measured r16 deep-round floor (~0.39 s/merge at
    * the wide 5M-word corpus; ~0.03 s/merge with the index, identical
    * digests — COVERAGE r17).
    *
    * EXACTNESS: on the canonical symbol-string form (double-space
    * separators, single-space ends, whitespace-free symbols — train's
    * input gate enforces it and every merge rewrite preserves it),
    * `s contains " a  b "` holds IFF the split has adjacent pair (a, b) —
    * the index and the scan compute the SAME affected set, row for row: a
    * non-overlay word is unchanged since the freeze (frozen hit ⟺ current
    * hit), an overlay word's frozen entries are masked and its CURRENT
    * string is re-matched on the driver (BpeBatchSpec's forced-shape
    * matrix pins index ≡ scan ≡ sequential).
    *
    * LIFECYCLE: built after `trigger` consecutive sparse rounds (the
    * deep-regime detector — a dense round replaces the base outright and
    * invalidates the index), with WASTED-BUILD BACKOFF (measured r17:
    * early training alternates sparse runs with dense rounds, and the
    * bare trigger thrashed ~10 corpus-scale builds into the first 128
    * wide-corpus merges — +60 s while each index served too few rounds to
    * pay for itself): a build dropped — by a dense round OR by its own
    * overlay outgrowing [[OccIndexOvMaxWords]] — before serving 2× the
    * trigger doubles the required streak; one that earned its keep resets
    * it, so high-churn regimes self-tune back to the scan. The index
    * keeps its OWN driver overlay of rewrites since the build
    * ([[recordRewrite]]) precisely so WordOverlay's checkpoint refreezes
    * do NOT invalidate it. Deep training has no dense rounds and tiny
    * per-round rewrite sets, so exactly one final build persists. At
    * cluster scale the index is executor-resident like the base itself;
    * entries duplicate each word ~|distinct pairs| times — the classic
    * occurrence-index space/time trade, the in-heap design re-expressed
    * distributed. */
  private final class OccurrenceIndex(words: WordOverlay, trigger: Int,
      probeBudget: Int = OccProbeMaxTotalRows,
      rebuildOvWords: Int = OccIndexRebuildOvWords,
      telemetry: TrainTelemetry = new TrainTelemetry) {
    private val spark = words.session
    import spark.implicits._
    /** Entry count of the LAST build — the sizing signal for the next
      * one's bucket count (r20, [[OccIndexBuckets]] scaladoc): the build
      * must pick its partitioner before the one pass that also measures
      * the entries, so sizing uses the previous measurement. The FIRST
      * build (no measurement yet) pre-counts instead of defaulting to the
      * parallelism floor — see build(). Deep training rebuilds rarely and
      * the word count between builds only shrinks; per-word DISTINCT
      * adjacent pairs can locally grow by a merge (merging "aa" in
      * "aaaaa" turns 1 distinct pair into 2), so one build's count is a
      * sizing signal for the next, not a strict bound — the 50k/bucket
      * target and the [[OccIndexBuckets]] cap absorb the drift. */
    private var lastEntries: Long = -1L
    private def bucketCount: Int = {
      val floor = math.max(16, spark.sparkContext.defaultParallelism)
      if (lastEntries < 0L) floor
      else math.min(OccIndexBuckets.toLong, math.max(floor.toLong,
        (lastEntries + OccIndexEntriesPerBucket - 1L) /
          OccIndexEntriesPerBucket)).toInt
    }
    /** Current partitioner — re-created per build when the size target
      * moves; probes read the partitioner OFF THE RDD they query, so a
      * mid-flight resize can never mis-prune. */
    var partitioner = new org.apache.spark.HashPartitioner(bucketCount)
    private var idx: Option[org.apache.spark.rdd.RDD[
      ((String, String), (Long, String, Long))]] = None
    // (wid → (current symbols, count)) of every word rewritten since the
    // BUILD — the probe's reconciliation source, independent of
    // WordOverlay's fold cadence
    private val ovI =
      scala.collection.mutable.HashMap.empty[Long, (String, Long)]
    private var streak = 0
    private var backoff = 1L
    private var served = 0
    // EMA of sparse rounds' affected-row counts — the admission signal
    // (init 0 so fixture-scale runs and forced-trigger specs admit)
    private var avgAff = 0.0
    def active: Boolean = idx.nonEmpty
    def release(): Unit = {
      idx.foreach(_.unpersist(blocking = false)); idx = None
      ovI.clear()
    }
    private def settleDrop(): Unit = {
      if (served < 2L * math.max(1, trigger))
        backoff = math.min(backoff * 2L, 1024L)
      else backoff = 1L
      served = 0
    }
    private def build(): Unit = {
      release()
      val fr = words.frozen()
      if (lastEntries < 0L) {
        // FIRST build: no previous measurement, and the parallelism floor
        // under-buckets a big corpus ~16× until the first rebuild (at 25M
        // entries: ~780k entries/bucket vs the 50k target — every probe
        // reads 16× more data; r20 ADVICE). One bounded pre-pass over the
        // frozen base — Σ per-word (symbols − 1), an upper bound on
        // distinct adjacent pairs — sizes the buckets exactly where it
        // matters and costs a single map-side aggregation of the base the
        // build is about to scan anyway (no shuffle, no second freeze).
        lastEntries = fr.select(coalesce(sum(
          greatest(size(symbolsOf(col("s"))) - 1, lit(1)).cast("long")),
          lit(0L))).head().getLong(0)
      }
      val buckets = bucketCount
      if (buckets != partitioner.numPartitions)
        partitioner = new org.apache.spark.HashPartitioner(buckets)
      val arr = symbolsOf(col("s"))
      val rdd = fr
        .select(col("wid"), col("s"), col("count"),
          explode(array_distinct(zip_with(
            slice(arr, lit(1), size(arr) - 1), slice(arr, lit(2), size(arr) - 1),
            (a, b) => struct(a.as("a"), b.as("b"))))).as("p"))
        .select(col("p.a"), col("p.b"), col("wid"), col("s"), col("count"))
        .as[(String, String, Long, String, Long)].rdd
        .map { case (a, b, wid, s, c) => ((a, b), (wid, s, c)) }
        .partitionBy(partitioner)
      rdd.localCheckpoint() // truncate lineage off the (releasable) base
      lastEntries = rdd.count() // materialize now, off the per-round path;
                                // the count sizes the NEXT build's buckets
      idx = Some(rdd)
      served = 0
    }
    /** Round-start hook — MUST run before the round derives its view of
      * the word table (a build refreezes the overlay). Admission = enough
      * consecutive sparse rounds (backoff-scaled) AND small enough recent
      * affected sets ([[OccIndexMaxMeanAff]]) for a build to amortize. */
    def maybeBuild(): Unit =
      if (idx.isEmpty && trigger >= 0 &&
          streak >= trigger.toLong * backoff && avgAff <= OccIndexMaxMeanAff)
        build()
      // proactive ovI-bound rebuild (r18): every probe reconciles against
      // the whole rewritten-since-build overlay, so a long-lived index
      // accumulates a per-round driver loop that measured ~1.5 µs/word on
      // the wide corpus (the 16k run's 0.10 s/merge plateau). Past the
      // bound, one build (~9 s corpus-scale, amortized over the deep
      // regime's thousands of remaining rounds) re-zeroes it. Same build
      // path as admission, so overlay-refreeze correctness is already
      // matrix-pinned; runs at round start BEFORE the round derives its
      // word-table view.
      else if (idx.nonEmpty && rebuildOvWords > 0 && ovI.size > rebuildOvWords) {
        telemetry.occIndexRebuilds.incrementAndGet()
        build()
      }
    /** Some((rows, certainDense)): the exact affected set, or a proof the
      * round is dense; None: no index / batch too wide / truncation past
      * the memory budget (inconclusive — the scan fallback decides). */
    def probe(batch: Seq[(String, String)], needleStrs: Seq[String],
        bound: Int): Option[(IndexedSeq[(Long, String, Long)], Boolean)] =
      idx match {
        case Some(i) if batch.size <= OccProbeMaxBatch =>
          val pairSet = batch.toSet
          // Truncation bounds (r17 ADVICE — the old batch-wide per-task
          // cap reached ~4.6M buffered entries per task with the overlay
          // near its 512k bound). Two changes, both memory-bounding:
          //  - the proof bound is PARTITION-LOCAL: a word contributes at
          //    most nPairs_p entries to partition p (one per contained
          //    batch pair hashed there, pairs array_distinct at build),
          //    so rawEntries_p > nPairs_p×(bound+1+ovI.size) already
          //    proves distinct live affected words > bound — the ×batch
          //    factor only ever applied across partitions.
          //  - a hard TOTAL budget [[OccProbeMaxTotalRows]] caps driver
          //    exposure: when the proof bound exceeds the budget's
          //    per-partition share (large overlay), tasks truncate at the
          //    share and truncation is INCONCLUSIVE → None, and the scan
          //    fallback (itself bound+1-limited) decides sparse/dense.
          val perPair = bound.toLong + 1L + ovI.size
          val canProve = batch.size.toLong * perPair <= probeBudget
          // pids come from the QUERIED RDD's own partitioner (r20): the
          // index resizes per build, so the field may already describe
          // the NEXT build's layout
          val pidPairs = batch.groupBy(i.partitioner.get.getPartition(_))
            .map { case (p, xs) => (p, xs.size) }
          val pids = pidPairs.keys.toArray
          val caps = pidPairs.map { case (p, n) =>
            (p, math.min(n.toLong * perPair,
              math.max(1L, probeBudget.toLong * n / batch.size))
              .toInt)
          }
          val parts = spark.sparkContext.runJob(i,
            (ctx: org.apache.spark.TaskContext,
             it: Iterator[((String, String), (Long, String, Long))]) => {
              val cap = caps(ctx.partitionId())
              val buf =
                new scala.collection.mutable.ArrayBuffer[(Long, String, Long)]
              var truncated = false
              while (it.hasNext && !truncated) {
                val e = it.next()
                if (pairSet.contains(e._1)) {
                  buf += e._2
                  if (buf.length > cap) truncated = true
                }
              }
              (buf, truncated)
            }, scala.collection.immutable.ArraySeq.unsafeWrapArray(pids))
          if (parts.exists(_._2)) {
            if (canProve) {
              telemetry.occProbeServed.incrementAndGet()
              Some((IndexedSeq.empty, true)) // dense, proven
            } else {
              // budget-truncated: inconclusive, the scan fallback decides
              telemetry.occProbeInconclusive.incrementAndGet()
              None
            }
          } else {
            val seen = new java.util.HashSet[java.lang.Long]
            val out =
              new scala.collection.mutable.ArrayBuffer[(Long, String, Long)]
            parts.foreach(_._1.foreach { r =>
              if (!ovI.contains(r._1) && seen.add(r._1)) out += r
            })
            ovI.foreach { case (wid, (s, c)) =>
              if (needleStrs.exists(s.contains)) out += ((wid, s, c))
            }
            telemetry.occProbeServed.incrementAndGet()
            Some((out.toIndexedSeq, false))
          }
        case _ => None
      }
    /** Every sparse-round rewrite flows through here (both loops): the
      * index's frozen entries for `wid` go stale and are masked by this
      * record until the next build. No-op while no index is live. */
    def recordRewrite(wid: Long, s: String, count: Long): Unit =
      if (idx.nonEmpty) ovI.update(wid, (s, count))
    /** Sparse-round bookkeeping: advance the detector (feeding the
      * admission EMA with this round's affected count); drop the index
      * (through the backoff account) when its overlay outgrew the bound. */
    def onSparseRound(affected: Int): Unit = {
      if (idx.nonEmpty && ovI.size > OccIndexOvMaxWords) {
        settleDrop()
        release()
        streak = 0
      }
      avgAff = 0.875 * avgAff + 0.125 * affected
      streak += 1
      if (idx.nonEmpty) served += 1
    }
    /** Dense-round bookkeeping: the base replacement invalidated the
      * index; settle the backoff account and reset the detector. */
    def onDenseRound(): Unit = {
      if (idx.nonEmpty) settleDrop()
      release()
      streak = 0
      served = 0
    }
  }

  /** Signed adjacent-pair fold of one symbol string into a driver delta
    * map — the driver twin of [[pairCounts]]' explode ∘ zip_with (same
    * split semantics as [[symbolsOf]]: trim, split on runs of spaces). */
  private def addPairDeltas(
      m: scala.collection.mutable.HashMap[(String, String), Long],
      s: String, c: Long): Unit = {
    val parts = s.trim.split(" +")
    var i = 0
    while (i < parts.length - 1) {
      val k = (parts(i), parts(i + 1))
      val n = m.getOrElse(k, 0L) + c
      if (n == 0L) m.remove(k) else m.update(k, n)
      i += 1
    }
  }

  /** Fully-distributed rounds — the word/symbol table and the pair-count
    * BASE stay on the cluster; the regime for pair tables too big for the
    * driver map (or mid-training hand-off from [[trainHybrid]], continuing
    * in `merges`).
    *
    * r16 (r15 verdict #5 — carry the churn insight across the gate): the
    * r15 loop re-joined and re-CHECKPOINTED the full pair table every
    * round and ran a full-table TakeOrdered argmax probe — four
    * sequential jobs, two with table-sized writes, a ~0.59 s/merge floor
    * once deep rounds apply one merge each. Counts only change for pairs
    * adjacent to a merge site, so the loop now works against a FROZEN
    * base checkpoint plus a driver OVERLAY of current counts for touched
    * pairs:
    *
    *  - At each freeze the base's top-[[BaseTopRows]] pairs collect to
    *    the driver (`baseTop`, rank order); `floor` = the last visible
    *    count (0 when the whole base fits — then every live pair is
    *    visible and selection runs floorless, exactly the hybrid map).
    *  - ARGMAX runs entirely on the driver over baseTop ∪ overlay: an
    *    untouched pair not in baseTop still holds its base count
    *    ≤ floor, and every candidate above the floor carries its exact
    *    current count — so the (n desc, a asc, b asc) walk with stop
    *    count ≥ floor is the same probe-floor argument
    *    [[selectBatchEx]]'s proof already covers. ZERO Spark jobs. The
    *    one driver-blind shape — a max-count tie plateau WIDER than the
    *    visible top, where nothing sits strictly above the floor — falls
    *    back to a single distributed TakeOrdered argmax probe after the
    *    refreeze (r17; exhaustion is declared only on an empty base).
    *  - A round runs TWO distributed jobs, overlapped with the syms
    *    rewrite: the signed delta aggregation over affected words
    *    (cached, tiny output), and — only when a changed pair is touched
    *    for the first time since the freeze — a broadcast-probe scan of
    *    the base for those pairs' frozen counts (no shuffle, no write).
    *    current(p) = base(p) + Σ deltas folds in the driver overlay;
    *    entries at ≤ 0 stay to MASK their base row.
    *  - REFREEZE (fold the overlay into a new base checkpoint + recollect
    *    the top) when the visible candidates decay below the floor or
    *    the overlay outgrows [[TableLoopOvMaxPairs]] — amortized over the
    *    many rounds a freeze serves.
    *
    *  - The WORD table freezes the same way (r16 second lever): syms
    *    checkpoints once with stable word ids; a SPARSE round (affected
    *    rows ≤ [[SymsOverlayMaxAffected]] — the deep-merge shape)
    *    collects the affected rows, rewrites them and folds exact pair
    *    deltas ON THE DRIVER (string twins of the distributed
    *    explode/agg), patching subsequent scans with a bounded
    *    (wid → symbols) broadcast — no per-round syms WRITE at all; a
    *    dense round keeps the distributed delta agg + full rewrite
    *    checkpoint (folding the word overlay in), and its delta folds
    *    into the DISTRIBUTED base (full_outer + top re-collect — never a
    *    driver collect: a wide-alphabet dense round can change millions
    *    of pairs in exactly the regime that exists for >driver-map pair
    *    tables).
    *
    * Counts stay exact longs; merges stay bit-identical to sequential
    * BPE (BpeBatchSpec's four-regime parity matrix runs through this
    * loop). At true web scale the base and the word table remain
    * cluster-resident — the driver holds only the bounded top + overlay. */
  private def trainTableLoop(symsInit: DataFrame, countsInit: DataFrame,
      merges: scala.collection.mutable.ArrayBuffer[(String, String)],
      numMerges: Int, overlayMaxAffected: Int, overlayMaxWords: Int,
      baseTopRows: Int, occIndexAfterSparse: Int,
      occProbeBudget: Int, occRebuildOvWords: Int,
      telemetry: TrainTelemetry): Unit = {
    telemetry.lastRegimes.add("tableloop")
    val spark = symsInit.sparkSession
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val rel = org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistCheckpoint _
    // syms: frozen base + bounded driver overlay (see [[WordOverlay]]) —
    // deep rounds touch a handful of words, so materializing a
    // table-sized checkpoint per round is pure write amplification
    val words = new WordOverlay(symsInit, overlayMaxWords)
    var base = countsInit
    // overlay: CURRENT count of every pair touched since the freeze
    // (≤ 0 entries retained — they mask a consumed base row); `cand`
    // mirrors baseTop ∪ overlay for the driver argmax
    val ov = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val cand = scala.collection.mutable.HashMap.empty[(String, String), Long]
    var floor = 0L
    var baseComplete = false
    val occ = new OccurrenceIndex(words, occIndexAfterSparse, occProbeBudget,
      occRebuildOvWords, telemetry)
    // Partitioned twin of the PAIR base for the applyDeltas count probe
    // (r17, second half of the same lever): with the word scan replaced
    // by the occurrence index, the remaining deep-round job was the
    // first-touched-pair base probe -- a full broadcast-semijoin scan of
    // the multi-million-row pair table EVERY round (deep rounds touch
    // ~20 new pairs each). The twin holds the identical (pair -> n)
    // content hash-partitioned by pair, so the probe prunes to one task
    // per needed bucket. Built lazily while the occurrence index is
    // active; dropped whenever `base` is replaced (fold / dense round) --
    // between folds the base is immutable, so the twin stays exact for
    // the thousands of rounds one freeze serves. (Table-loop only: the
    // hybrid regime keeps pair counts in the driver map.)
    var baseIdx: Option[org.apache.spark.rdd.RDD[((String, String), Long)]] =
      None
    def dropBaseIdx(): Unit = {
      baseIdx.foreach(_.unpersist(blocking = false)); baseIdx = None
    }
    def buildBaseIdx(): Unit = {
      dropBaseIdx()
      val rdd = base.as[(String, String, Long)].rdd
        .map { case (a, b, n) => ((a, b), n) }
        .partitionBy(occ.partitioner)
      rdd.localCheckpoint()
      rdd.count()
      baseIdx = Some(rdd)
    }
    def probeBaseCounts(need: Seq[(String, String)])
        : Map[(String, String), Long] = baseIdx match {
      case Some(bi) =>
        val needSet = need.toSet
        // the twin's OWN partitioner (r20): occ resizes per build, so the
        // shared field may describe a layout newer than this twin's
        val pids = need.map(bi.partitioner.get.getPartition(_)).distinct.toArray
        spark.sparkContext.runJob(bi,
          (it: Iterator[((String, String), Long)]) =>
            it.filter(e => needSet.contains(e._1)).toArray,
          scala.collection.immutable.ArraySeq.unsafeWrapArray(pids))
          .iterator.flatten.toMap
      case None =>
        base.join(broadcast(need.toDF("a", "b")), Seq("a", "b"))
          .as[(String, String, Long)].collect()
          .map { case (a, b, n) => (a, b) -> n }.toMap
    }
    def foldOvIntoBase(): Unit = if (ov.nonEmpty) {
      val ovDF = ov.iterator.map { case ((a, b), n) => (a, b, n) }.toSeq
        .toDF("a", "b", "cur")
      val nb = base.join(broadcast(ovDF), Seq("a", "b"), "full_outer")
        .select(col("a"), col("b"), coalesce(col("cur"), col("n")).as("n"))
        .filter(col("n") > 0L)
        .transform(ckpt)
      rel(base)
      base = nb
      ov.clear()
      dropBaseIdx() // the twin mirrors the replaced base — rebuilt lazily
    }
    def recollectTop(): Unit = {
      val top = base.orderBy(desc("n"), asc("a"), asc("b"))
        .limit(baseTopRows + 1).as[(String, String, Long)].collect()
      baseComplete = top.length <= baseTopRows
      val baseTop = top.take(baseTopRows)
      floor = if (baseComplete) 0L else baseTop.last._3
      cand.clear()
      baseTop.foreach { case (a, b, n) => cand((a, b)) = n }
    }
    def refreeze(): Unit = { foldOvIntoBase(); recollectTop() }
    refreeze()
    // driver argmax over the candidate map, same probe-deepening shape as
    // selectBatchFromMap: entries ≤ floor are indistinguishable from the
    // invisible base tail, so they filter out and the walk's stop count
    // (≥ floor by construction: visible counts sort first) bounds them
    def selectBatchFromCand(prior: scala.collection.Set[String])
        : Seq[(String, String)] = {
      var k = BatchProbe
      while (true) {
        val raw = topPairs(cand, k)
        val visible = raw.filter(_._3 > floor)
        if (visible.isEmpty) return Nil
        // covered = no deeper probe can surface another >floor candidate
        val covered = raw.length < k || raw.length >= cand.size ||
          raw.last._3 <= floor
        val (batch, conflictStopped) =
          selectBatchEx(visible, prior, covered && baseComplete)
        if (covered || conflictStopped) return batch
        k = math.min(cand.size, k * 8)
      }
      Nil
    }
    // MAX-COUNT PLATEAU fallback (r16 ADVICE, high): after a refreeze the
    // floor equals the baseTopRows-th count, so when MORE than baseTopRows
    // pairs tie at the running MAXIMUM (top baseTopRows+1 rows share one
    // count — realistic exactly in the >driver-map regime this loop
    // serves, e.g. a wide alphabet whose Poisson-spread counts put >64k
    // pairs at one value), no candidate is strictly above the floor and
    // the driver walk sees nothing — yet co-occurring pairs remain. One
    // distributed TakeOrdered over the freshly-folded base (the caller
    // refroze first, so `ov` is empty and the base IS current) yields the
    // exact (n desc, a asc, b asc) head; selectBatchEx with the probe's
    // own floor returns at least that head (a single sequential round is
    // always legal), so the plateau advances one exact argmax per probe.
    // Exhaustion is only real when the base itself has no rows.
    def probeBaseArgmax(prior: scala.collection.Set[String])
        : Seq[(String, String)] = {
      assert(ov.isEmpty, "plateau probe requires a freshly-folded base")
      val raw = base.orderBy(desc("n"), asc("a"), asc("b"))
        .limit(BatchProbe).as[(String, String, Long)].collect()
      if (raw.isEmpty) Nil
      else selectBatchEx(scala.collection.immutable.ArraySeq
        .unsafeWrapArray(raw), prior, complete = false)._1
    }
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      val prior = merges.iterator.map { case (a, b) => a + b }.toSet
      var batch = selectBatchFromCand(prior).take(numMerges - merges.size)
      if (batch.isEmpty) {
        // visible candidates decayed to the floor — fold the overlay back
        // and re-collect the top
        refreeze()
        batch = selectBatchFromCand(prior).take(numMerges - merges.size)
        // still empty with a non-zero floor = the tie plateau is wider
        // than the visible top, NOT exhaustion (with floor == 0 the base
        // was fully visible, so empty really means no pair co-occurs)
        if (batch.isEmpty && floor > 0L)
          batch = probeBaseArgmax(prior).take(numMerges - merges.size)
        if (batch.isEmpty) exhausted = true
      }
      if (!exhausted) {
        merges ++= batch
        // deep-regime detector (OccurrenceIndex scaladoc) — before `cur`
        // is derived: a build refreezes the word overlay
        occ.maybeBuild()
        val needles = batch.map { case (a, b) => s" $a  $b " }
        val containsAny = needles.map(n => col("s").contains(lit(n)))
          .reduce(_ || _)
        def replaceAll(c: Column): Column = batch.foldLeft(c) {
          case (acc, (a, b)) => applyMerge(acc, a, b)
        }
        val cur = words.patched
        // SPARSE round probe: the index (one pruned task per batch pair)
        // when active, else the contains-scan — collect the affected rows
        // when few (the deep-merge shape). The limit-collect / task cap
        // short-circuits once the bound overflows, so a dense round pays
        // one cheap probe before taking the wide shape.
        val (affRows, provenDense) =
          occ.probe(batch, needles, overlayMaxAffected).getOrElse {
            val r = cur.filter(containsAny)
              .limit(overlayMaxAffected + 1).collect()
            (r.iterator.map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
              .toIndexedSeq, false)
          }
        // Applied either way: fold the round's exact deltas into the
        // count overlay, pulling frozen base counts for FIRST-touched
        // pairs via the pruned pair-base twin (or one broadcast-probe
        // scan before the deep regime; a changed pair absent from the
        // base froze at 0).
        def applyDeltas(deltaRows: Iterable[(String, String, Long)]): Unit = {
          val need = deltaRows.iterator
            .collect { case (a, b, _) if !ov.contains((a, b)) => (a, b) }
            .toSeq.distinct
          // deep regime: first-touched pairs occur ~every round — build
          // the pruned pair-base twin alongside the occurrence index so
          // the probe stops full-scanning the pair table
          if (need.nonEmpty && occ.active && baseIdx.isEmpty)
            buildBaseIdx()
          val baseN: Map[(String, String), Long] =
            if (need.isEmpty) Map.empty else probeBaseCounts(need)
          deltaRows.foreach { case (a, b, d) =>
            val k = (a, b)
            val curN = ov.getOrElse(k, baseN.getOrElse(k, 0L)) + d
            ov(k) = curN
            if (curN > floor) cand(k) = curN else cand.remove(k)
          }
        }
        if (!provenDense && affRows.length <= overlayMaxAffected) {
          // driver-side rewrite + exact pair deltas (the string twins of
          // the distributed explode/agg: same split, same left-to-right
          // non-overlapping replace — the four-regime parity matrix pins
          // it) — NO syms write, no delta agg; one optional base probe
          val deltas =
            scala.collection.mutable.HashMap.empty[(String, String), Long]
          affRows.foreach { case (wid, s, c) =>
            addPairDeltas(deltas, s, -c)
            val out = batch.foldLeft(s) { case (acc, (a, b)) =>
              acc.replace(s" $a  $b ", s" $a$b ")
            }
            addPairDeltas(deltas, out, c)
            words.set(wid, out, c)
            occ.recordRewrite(wid, out, c)
          }
          applyDeltas(deltas.iterator.map { case ((a, b), d) => (a, b, d) }
            .toSeq)
          words.maybeRefreeze() // independent of the index (own overlay)
          occ.onSparseRound(affRows.length)
          if (ov.size > TableLoopOvMaxPairs) refreeze()
        } else {
          // DENSE round (early training): the delta FOLDS INTO THE
          // DISTRIBUTED BASE (review r16 — a wide-alphabet dense round
          // can change millions of pairs, which must never collect to
          // the driver in the regime that exists for >driver-map pair
          // tables; this is the r15 full_outer shape), overlapped with
          // the full rewrite checkpoint; the visible top then
          // re-collects. Net pair-count change in ONE signed
          // aggregation: each affected word contributes its pre-merge
          // pairs at −count and its post-merge pairs at +count.
          val nextSymsF = Future {
            cur.select(col("wid"),
              when(containsAny, replaceAll(col("s"))).otherwise(col("s"))
                .as("s"),
              col("count")).transform(ckpt)
          }
          val affected = cur.filter(containsAny)
          val deltaDF = pairCounts(affected.select(explode(array(
              struct(col("s"), (-col("count")).as("count")),
              struct(replaceAll(col("s")).as("s"), col("count")))).as("r"))
              .select(col("r.s").as("s"), col("r.count").as("count")))
            .withColumnRenamed("n", "d")
            .filter(col("d") =!= 0L)
          foldOvIntoBase() // overlay overrides base, so it folds FIRST
          val newBase = base.join(deltaDF, Seq("a", "b"), "full_outer")
            .select(col("a"), col("b"),
              (coalesce(col("n"), lit(0L)) + coalesce(col("d"), lit(0L)))
                .as("n"))
            .filter(col("n") > 0L)
            .transform(ckpt)
          rel(base)
          base = newBase
          recollectTop()
          val nextSyms = Await.result(nextSymsF, 10.minutes)
          words.replaceBase(nextSyms)
          // the full base replacement invalidates both indexes
          occ.onDenseRound()
          dropBaseIdx()
        }
      }
    }
    occ.release()
    dropBaseIdx()
    rel(base)
    words.release()
  }

  /** Eager local checkpoint (deserialized: BPE's tables are ~100 MB of
    * short strings, an order below the grid sizes where TransitSssp's
    * serialized level paid for itself). */
  private def ckpt(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** ovI size past which a LIVE occurrence index proactively REBUILDS at
    * round start instead of carrying the overlay further (r18 — the 16k
    * deep-tail diagnosis): every probe reconciles against all
    * words-rewritten-since-build with a per-needle contains, measured at
    * ~1.5 µs/word/round on the wide corpus — at the 37-59k overlay the
    * loop dominated the 0.03 s probe floor (0.10 s/merge plateau). A
    * corpus-scale rebuild costs ~9 s and re-zeroes the loop, amortizing
    * in ~100-200 deep merges; at this bound the loop tax is ~35 ms/round
    * and climbing when the rebuild fires. Fixture overlays never get
    * near it, so catalog rows keep single-build behavior. Default of
    * train's per-call parameter (measured A/B below pins the win). */
  private[graft] val OccIndexRebuildOvWords: Int = 24 * 1024

  /** PER-CALL training telemetry: callers that need to REQUIRE a path
    * engaged pass their own instance to [[train]] and read counters only
    * that call can advance — no process-global copy exists, so a
    * concurrent train() in the same JVM cannot false-pass the check. */
  final class TrainTelemetry {
    /** Occurrence-index probes that SERVED a round (exact affected set or
      * a proven density verdict): the `text_bpe_merges_indexed` catalog
      * row requires it to advance, so a silent admission regression
      * (index never builds / probe never serves) fails Verify loudly. */
    val occProbeServed = new java.util.concurrent.atomic.AtomicLong(0L)
    /** Probes that hit the [[OccProbeMaxTotalRows]] budget before proving
      * density — the inconclusive path, where the scan fallback decides. */
    val occProbeInconclusive = new java.util.concurrent.atomic.AtomicLong(0L)
    /** Proactive ovI-bound index rebuilds (r18). */
    val occIndexRebuilds = new java.util.concurrent.atomic.AtomicLong(0L)
    /** The loop regimes the distributed trainer traversed, in order
      * ("hybrid", "tableloop", "inheap") — lets the hand-off specs assert
      * the overflow path actually fired. Empty when trainLocal ran. */
    val lastRegimes = new java.util.concurrent.CopyOnWriteArrayList[String]()
  }

  /** Spark orders strings by UTF-8 bytes = code-point order — the local
    * tie-break must match the distributed sort exactly (shared helper). */
  private def utf8Lt(x: String, y: String): Boolean =
    graft.util.Utf8Order.lt(x, y)

  /** In-heap trainer: identical merges to the distributed rounds (every
    * adjacent pair occurrence counts, weighted by word count; argmax with
    * (n desc, a asc, b asc) UTF-8 tie-break; greedy left-to-right
    * non-overlapping application). Naive full recount per round — at the
    * ≤2M-word scale this branch admits, a round is milliseconds, so 32k
    * merges finish in minutes where the per-round-Spark-job loop took
    * days. Initial symbols are CODE POINTS, matching regexp "(?s)(.)" on
    * the distributed side. */
  private[operators] def trainLocal(words: Array[(String, Long)],
      numMerges: Int): Seq[(String, String)] = {
    val syms: Array[Array[String]] = words.map { case (w, _) =>
      val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.toArray
    }
    val counts = words.map(_._2)
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
              (utf8Lt(k._1, best._1) ||
                (k._1 == best._1 && utf8Lt(k._2, best._2))))) {
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
    * non-overlapping: the in-heap twin of [[applyMerge]]'s string replace
    * (shared by [[trainLocal]] and [[trainInHeap]] so every regime rewrites
    * identically). Returns the SAME array when the pair is absent. */
  private def rewriteWord(s: Array[String], a: String, b: String): Array[String] = {
    if (s.length < 2) return s
    var contains = false
    var i = 0
    while (i < s.length - 1 && !contains) {
      if (s(i) == a && s(i + 1) == b) contains = true
      i += 1
    }
    if (!contains) return s
    val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
    i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
        out += a + b; i += 2
      } else { out += s(i); i += 1 }
    }
    out.toArray
  }

  /** Sub-word count per word after applying `merges` in order — the same
    * replace chain any SQL engine reproduces verbatim. */
  def subwordCount(word: Column, merges: Seq[(String, String)]): Column = {
    val seq = merges.foldLeft(toSymbols(word)) {
      case (acc, (a, b)) => applyMerge(acc, a, b)
    }
    size(symbolsOf(seq))
  }
}

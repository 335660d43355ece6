package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Training-data-pipeline operators over `documents` / `embeddings`:
  * deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard), similarity
  * search (brute-force + LSH-bucketed ANN), text analysis, and the
  * multimodal binary-column plumbing.
  *
  * Queries whose semantics are SQL-expressible carry a DuckDB oracle; the
  * hash-based ones (xxhash64 has no DuckDB twin) are declared rows-only and
  * are instead covered by ScalaTest fixtures.
  */
object Pipeline {
  import Catalog.{t, tSpread}

  /** Word n-gram rows from a pre-tokenized array; short docs collapse to a
    * single whole-text gram (the shingle convention of
    * TextFunctions.shingles, inlined here to tokenize once per row). */
  private def tokenGrams(tk: Column, n: Int): Column =
    when(size(tk) < n, array(concat_ws(" ", tk)))
      .otherwise(transform(sequence(lit(1), size(tk) - (n - 1)),
        i => concat_ws(" ", slice(tk, i, lit(n)))))

  /** Corpus Catalyst-stat floor above which the EXACT contamination row
    * takes the Bloom-prefiltered plan and caches the benchmark grams
    * (see [[contaminationPlan]]) — the same stats-not-jobs posture as
    * TimeExpandedGraph.EnrichMinStatBytes. Production DEFAULT of the
    * per-call parameter: the 100×-corpus probe (tools.TimeContamination)
    * and the lifecycle spec pass their own values per call instead of
    * mutating a global (r17 verdict #5 — the same de-globalization the
    * Bpe overlay hooks got in r17). */
  private[graft] val ContaminationBloomMinStatBytes: Long = 64L << 20

  /** Corpus-stat ceiling for BROADCASTING the benchmark grams into the
    * exact-verify join (r17, measured at the 6M-doc / 9.9M-gram point
    * where the relation is 1,807 MB): below it the broadcast wins — the
    * relation fits executor memory and the single-box A/B measured
    * 52.6 s broadcast vs 160.6 s shuffled (a shuffle pays sorts that
    * shared-memory broadcast never does) — above it the relation
    * approaches Spark's broadcast limits and 1000-executor arithmetic
    * reverses (N×GBs of relation copies vs a few GB of shuffle), so the
    * hint drops and AQE picks the join from runtime sizes. The corpus
    * stat is the right proxy HERE because this builder derives the
    * benchmark from the corpus (doc_id % 20); 4 GiB ≈ a ~12 GB relation,
    * past the practical broadcast cliff. Production DEFAULT of the
    * per-call parameter (TimeContamination forces the shuffled shape by
    * passing 0 per call — no global mutation). */
  private[graft] val ContaminationBroadcastVerifyMaxStatBytes: Long =
    4L << 30

  /** Caches a query builder RETAINED because its returned plan still reads
    * them (the contamination rows' benchmark-gram cache feeds the verify
    * join's broadcast side, so it cannot be unpersisted at build time —
    * r15 ADVICE). Harnesses that run many queries per session call
    * [[releaseRetainedCaches]] after fully consuming a query's result;
    * interactive sessions that skip it retain at most the small distinct
    * benchmark-gram set per contamination call. */
  private val retainedCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.DataFrame]()

  /** Unpersist every builder-retained cache (see [[retainedCaches]]).
    * Safe once the consuming action has finished; a later re-execution of
    * the returned plan would silently re-scan instead of reading the
    * cache — correct, just slower. */
  private[graft] def releaseRetainedCaches(): Unit = {
    var df = retainedCaches.poll()
    while (df != null) { df.unpersist(); df = retainedCaches.poll() }
  }

  /** Outstanding retained entries (graft.Runtime.retainedCount's source). */
  private[graft] def retainedCacheCount: Int = retainedCaches.size()

  /** Shared builder behind BOTH contamination rows (r16, r15 verdict #4):
    * corpus docs sharing any verbatim 8-gram with the benchmark set
    * (doc_id % 20 == 0 stands in for the benchmark).
    *
    * The exact semi-join (broadcast the distinct benchmark grams, hash
    * every corpus gram into it) is correct at any scale but builds a hash
    * relation probe over the FULL exploded corpus gram stream. The bloom
    * path collects the benchmark-gram sketch once (~0.9 MB at the 1M-gram
    * sizing), embeds it as a LITERAL, and prefilters the corpus grams at
    * ~ns/row in whole-stage codegen — only bloom-positive rows (true
    * matches + ~3 % false positives) reach the exact verify join, which
    * removes the false positives, so results are IDENTICAL by
    * construction (PropertySpec pins bloom ≡ exact plus the no-false-
    * negative membership law).
    *
    * `forceBloom = true` is the demonstration row
    * (pipeline_contamination_bloom); the EXACT row picks its plan from
    * the same ≥64 MB corpus Catalyst stat that gates the cache — plain
    * semi-join at fixture scale (no sketch job), bloom prefilter + exact
    * verify at deployment scale, where the semi-join's full-stream hash
    * probe disappears from the plan. */
  private[graft] def contaminationPlan(s: org.apache.spark.sql.SparkSession,
      dir: String, forceBloom: Boolean,
      // per-call measurement hooks with production defaults (knob
      // scaladocs above); TimeContamination and RuntimeSpec pass values
      // here instead of mutating process-global state
      bloomMinStatBytes: Long = ContaminationBloomMinStatBytes,
      broadcastVerifyMaxStatBytes: Long = ContaminationBroadcastVerifyMaxStatBytes)
      : org.apache.spark.sql.DataFrame = {
    val docs = t(s, dir, "documents")
    // tokenize in a separate projection: referencing tokens(text) inside
    // the tokenGrams lambda would re-tokenize once PER GRAM
    // (CollapseProject keeps the named column single-evaluated)
    val g = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(tokenGrams(col("tk"), 8)).as("gram"))
    // stats-not-jobs gate, shared by plan choice AND the bench-gram cache
    // (the sketch-build job and the verify join's broadcast side both
    // read the benchmark grams — uncached, that tokenize/explode/distinct
    // pipeline re-scans the corpus twice)
    val statBytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val big = statBytes >= BigInt(bloomMinStatBytes)
    val useBloom = forceBloom || big
    val bench0 = g.filter(col("doc_id") % 20 === 0).select("gram").distinct()
    // Cache only above the corpus-stat gate (r21 batch 3 re-measured the
    // alternative: caching at FIXTURE scale too — the bloom plan does read
    // the benchmark grams twice — made the bloom row 1.75→2.06 s min-of-3;
    // the columnar cache materialization costs more than recomputing the
    // small distinct. `big` keeps the cache where the re-read is a full
    // corpus re-tokenize.)
    val bench =
      if (useBloom && big) {
        val c = bench0.cache()
        retainedCaches.add(c)
        c
      } else bench0
    val corpus = g.filter(col("doc_id") % 20 =!= 0)
    val pre =
      if (!useBloom) corpus
      else {
        // one tiny agg job builds the sketch, sized from the corpus
        // Catalyst stat (r21 batch 3; was a fixed 1M-item bound): the
        // sketch embeds as a plan LITERAL, and ProfileRows put ~1.0 s of
        // the fixture row's 1.99 s in the DRIVER — Catalyst re-hashes the
        // ~0.9 MB literal on every canonicalization/AQE re-plan pass.
        // statBytes/8 ≈ one expected gram per 8 corpus bytes is a
        // generous over-bound for the 5 % benchmark slice's distinct
        // grams; the floor keeps tiny fixtures honest and the 1M cap IS
        // the old constant, so deployment-scale sizing (where the
        // benchmark cardinality is known upfront) is unchanged.
        // Oversizing or undersizing only moves the false-positive rate,
        // never correctness — the exact verify join behind the filter
        // removes every false positive (PropertySpec pins bloom ≡ exact).
        val benchItems = math.max(64L << 10,
          statBytes.min(BigInt(8L << 23)).toLong / 8L)
        val bloom = bench.agg(graft.functions.SketchFunctions.bloomAgg(
            xxhash64(col("gram")), benchItems).as("bf"))
          .head().getAs[Array[Byte]]("bf")
        corpus.filter(graft.functions.SketchFunctions.bloomMightContain(
          lit(bloom), xxhash64(col("gram"))))
      }
    // Verify-join strategy: broadcast the benchmark grams until the
    // relation nears the executor-memory cliff, then drop the hint and
    // let AQE pick the join from runtime sizes (rationale + single-box
    // A/B at [[ContaminationBroadcastVerifyMaxStatBytes]]). The bloom
    // prefilter has already shrunk the probe stream to near-matches by
    // then, so the shuffled join moves only tens of millions of rows and
    // no relation at all. At fixture scale the explicit hint stays and
    // the pinned catalog plan shapes keep their oracle-checked form.
    val verifySide =
      if (useBloom && big &&
          statBytes >= BigInt(broadcastVerifyMaxStatBytes)) bench
      else broadcast(bench)
    pre.join(verifySide, Seq("gram"))
      .groupBy("doc_id").agg(countDistinct("gram").as("n_shared_8grams"))
      .orderBy("doc_id")
  }

  /** DuckDB CTE prefix mirroring md5Shingles → minhashMd5 → lshBandKeysMd5
    * → band-key candidate join → exact set Jaccard, step for step (every
    * hash is md5, bit-identical across engines). `tail` consumes the
    * `verified(a_id, b_id, jaccard)` relation; `sh(doc_id, s)` holds the
    * hashed shingle sets. */
  private def minhashOracle(n: Int, k: Int, bands: Int, rows: Int, tail: String): String =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS tk
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_sort(list_distinct(
       |    CASE WHEN len(tk) < $n THEN [md5(array_to_string(tk, ' '))]
       |         ELSE list_transform(range(1, len(tk) - ${n - 2}),
       |                             i -> md5(array_to_string(tk[i:i+${n - 1}], ' '))) END)) AS s
       |  FROM toks),
       |sig AS (
       |  SELECT doc_id, s, list_transform(range(0, $k), j ->
       |    list_min(list_transform(s, h -> md5(j || ':' || h)))) AS sg
       |  FROM sh),
       |bandrows AS (SELECT doc_id, unnest(range(0, $bands)) AS band, sg FROM sig),
       |keys AS (SELECT doc_id, band,
       |  md5(array_to_string(sg[band*$rows+1 : band*$rows+$rows], ',')) AS key FROM bandrows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM keys a JOIN keys b ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id < b.doc_id),
       |s60 AS (
       |  SELECT doc_id, list_sort(list_distinct(
       |    list_transform(s, h -> ('0x' || h[1:15])::BIGINT))) AS s6
       |  FROM sh),
       |verified AS (
       |  SELECT a_id, b_id,
       |    CAST(len(list_intersect(sa.s6, sb.s6)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_concat(sa.s6, sb.s6))) AS DOUBLE) AS jaccard
       |  FROM cand JOIN s60 sa ON cand.a_id = sa.doc_id JOIN s60 sb ON cand.b_id = sb.doc_id)
       |$tail""".stripMargin

  /** DuckDB mirror of dedup_embedding_cosine: same seeded hyperplanes as
    * exact double literals, strict `> 0` sign bits, float→double cast, and
    * left-to-right summation matching DotProductExpr. */
  private def embeddingCosineOracle: String = {
    val planes = graft.functions.VectorFunctions.hyperplanes(3, 64)
    def lit(p: Array[Double]): String = p.mkString("[", ",", "]::DOUBLE[]")
    def bit(i: Int): String =
      s"CASE WHEN list_sum(list_transform(list_zip(v, ${lit(planes(i))}), p -> p[1]*p[2])) > 0 THEN ${1 << i} ELSE 0 END"
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |unit AS (
       |  SELECT vec_id,
       |    list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS u,
       |    (${bit(0)} + ${bit(1)} + ${bit(2)}) AS bucket
       |  FROM e)
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |       list_sum(list_transform(list_zip(a.u, b.u), p -> p[1]*p[2])) AS cos
       |FROM unit a JOIN unit b ON a.bucket = b.bucket
       |WHERE a.vec_id < b.vec_id
       |  AND list_sum(list_transform(list_zip(a.u, b.u), p -> p[1]*p[2])) >= 0.35
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Shared `unit(vec_id, u, bucket)` CTE prefix for the sign-LSH oracles:
    * seeded hyperplanes as exact round-trip double literals, strict `> 0`
    * sign bits, unit vectors via the same left-to-right fold as
    * DotProductExpr. */
  private def signLshPrefix(nPlanes: Int): String = {
    val planes = graft.functions.VectorFunctions.hyperplanes(nPlanes, 64)
    def lit(p: Array[Double]): String = p.mkString("[", ",", "]::DOUBLE[]")
    val bits = (0 until nPlanes).map(i =>
      s"CASE WHEN list_sum(list_transform(list_zip(v, ${lit(planes(i))}), p -> p[1]*p[2])) > 0 THEN ${1 << i} ELSE 0 END")
      .mkString("(", " + ", ")")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |unit AS (
       |  SELECT vec_id,
       |    list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS u,
       |    $bits AS bucket
       |  FROM e)""".stripMargin
  }

  /** DuckDB mirror of sim_ann_lsh: bucket equi-join candidates, exact
    * re-rank — same bit-exact arithmetic as [[embeddingCosineOracle]]. */
  private def annLshOracle: String =
    s"""${signLshPrefix(2)},
       |cands AS (
       |  SELECT q.vec_id AS q_id, v.vec_id AS v_id,
       |         list_sum(list_transform(list_zip(q.u, v.u), p -> p[1]*p[2])) AS c
       |  FROM unit q JOIN unit v ON q.bucket = v.bucket
       |  WHERE q.vec_id < 5 AND q.vec_id <> v.vec_id),
       |ranked AS (
       |  SELECT q_id, v_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, v_id) AS rn
       |  FROM cands)
       |SELECT q_id, v_id, round(c, 4) AS cos, CAST(rn AS INTEGER) AS rn FROM ranked
       |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin

  /** DuckDB mirror of sim_ann_lsh_int8: QuantizeInt8Expr is maxAbs/127
    * scaling with Java half-up rounding (`floor(x/scale + 0.5)`), and
    * QuantizedDotExpr is an exact integer MAC scaled by (sa*sb) — both
    * reproduced term for term, so even the rounded cosines hash-match. */
  private def annLshInt8Oracle: String =
    s"""${signLshPrefix(2)},
       |quant AS (
       |  SELECT vec_id, bucket,
       |    list_max(list_transform(u, x -> abs(x))) / 127.0 AS scale,
       |    list_transform(u, x -> CAST(floor(x / (list_max(list_transform(u, y -> abs(y))) / 127.0) + 0.5) AS BIGINT)) AS q
       |  FROM unit),
       |cands AS (
       |  SELECT q.vec_id AS q_id, v.vec_id AS v_id,
       |         (q.scale * v.scale) * CAST(list_sum(list_transform(list_zip(q.q, v.q), p -> p[1]*p[2])) AS DOUBLE) AS c
       |  FROM quant q JOIN quant v ON q.bucket = v.bucket
       |  WHERE q.vec_id < 5 AND q.vec_id <> v.vec_id),
       |ranked AS (
       |  SELECT q_id, v_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, v_id) AS rn
       |  FROM cands)
       |SELECT q_id, v_id, round(c, 4) AS cos, CAST(rn AS INTEGER) AS rn FROM ranked
       |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin

  def all: Seq[Q] = Seq(

    // Exact dedup: hash-groupBy on content digest, keep the smallest doc_id.
    // Scales as a single shuffle on the digest — no pairwise compare.
    Q("dedup_exact", "dedup",
      (s, dir) => t(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("content_hash"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id"),
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY content_hash ORDER BY keep_id""".stripMargin)),

    // Exact dedup after normalization (lower + trim + whitespace collapse).
    Q("dedup_exact_normalized", "dedup",
      (s, dir) => t(s, dir, "documents")
        .withColumn("norm", regexp_replace(trim(lower(col("text"))), "\\s+", " "))
        .groupBy(md5(col("norm").cast("binary")).as("content_hash"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id"),
      Some("""SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_hash,
             |       min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY content_hash ORDER BY keep_id""".stripMargin)),

    // MinHash + LSH near-dup: shingle → minhash signature → band keys →
    // bucket self-join (equi-join on band key, NOT a crossJoin) → exact
    // Jaccard verify on candidates. Hashing is the engine-portable md5
    // family (bit-identical in DuckDB), so the WHOLE pipeline — shingles,
    // seeded minhash, band keys, candidate join, exact Jaccard — is
    // oracle-checked, not rows-only. The xxhash64 twin (minhashSignature)
    // remains the cheaper production kernel, covered by PropertySpec.
    Q("dedup_minhash_lsh", "dedup",
      (s, dir) => {
        // tSpread (r21 batch 3): the docs scan is a single narrow file at
        // fixture scale, so the md5Shingles + 16×md5 minhash cache build —
        // the row's dominant cost — ran on ONE core. The hash-keyed spread
        // moves ~600 KB once and parallelizes the whole signature chain
        // (the r20 "spread hurts minhash" datum measured the round-robin+
        // sort spread on EVERY table read, not one keyed Exchange below an
        // expensive cached chain; pipeline_corpus_filter — a superset of
        // this row's work, spread kept — already ran FASTER than this row).
        val docs = tSpread(s, dir, "documents", "doc_id")
          .select(col("doc_id"), md5Shingles(col("text"), 3).as("sh"))
          .cache()
        val banded = docs
          .select(col("doc_id"), explode(lshBandKeysMd5(minhashMd5(col("sh"), 16), 4, 4)).as("bk"))
          .select(col("doc_id"), col("bk.band"), col("bk.key"))
          .cache() // both sides of the candidate self-join read this
        val candidates = banded.select(col("band"), col("key"), col("doc_id").as("a_id"))
          .join(banded.select(col("band"), col("key"), col("doc_id").as("b_id")), Seq("band", "key"))
          .filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id").distinct()
        // Verify via shuffle equi-joins on doc id — broadcast is for
        // dimensions, not the corpus (AQE still broadcasts if tiny). The
        // joined dimension carries the 60-bit compacted sets (md5Prefix60),
        // not the hex strings: ~6× fewer shuffle bytes per candidate.
        val dim = docs.select(col("doc_id"), md5Prefix60(col("sh")).as("s6"))
        candidates
          .join(dim.select(col("doc_id").as("a_id"), col("s6").as("a_sh")), Seq("a_id"))
          .join(dim.select(col("doc_id").as("b_id"), col("s6").as("b_sh")), Seq("b_id"))
          .select(col("a_id"), col("b_id"), jaccardSorted(col("a_sh"), col("b_sh")).as("jaccard"))
          .filter(col("jaccard") >= 0.8)
          .orderBy("a_id", "b_id")
      },
      Some(minhashOracle(n = 3, k = 16, bands = 4, rows = 4,
        """SELECT a_id, b_id, jaccard FROM verified
          |WHERE jaccard >= 0.8 ORDER BY a_id, b_id""".stripMargin))),

    // SimHash near-dup: 64-bit simhash, candidate via any equal 16-bit chunk
    // (pigeonhole: hamming ≤ 3 ⇒ one of 4 chunks equal), verify hamming.
    // md5-derived token hashes (SimHashMd5Expr) so DuckDB mirrors the whole
    // pipeline — the raw simhash never leaves the query, so the signed
    // (Spark long) vs unsigned (DuckDB UBIGINT) carrier cannot skew output.
    Q("dedup_simhash", "dedup",
      (s, dir) => {
        // tSpread: the per-doc simhash (md5 per token × 64 bit votes) is
        // the dominant cost and amortizes the one Exchange (r20 driver
        // bench: 0.75× WITH the spread)
        val docs = tSpread(s, dir, "documents", "doc_id")
          .select(col("doc_id"), simhashMd5(col("text")).as("sh"))
        val chunked = docs.select(col("doc_id"), col("sh"),
          explode(array((0 until 4).map(i =>
            struct(lit(i).as("chunk"),
              shiftright(col("sh"), i * 16).bitwiseAND(0xFFFFL).as("ckey"))): _*)).as("c"))
          .select(col("doc_id"), col("sh"), col("c.chunk"), col("c.ckey"))
        val a = chunked.select(col("chunk"), col("ckey"), col("doc_id").as("a_id"), col("sh").as("a_sh"))
        val b = chunked.select(col("chunk"), col("ckey"), col("doc_id").as("b_id"), col("sh").as("b_sh"))
        a.join(b, Seq("chunk", "ckey"))
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"), hamming64(col("a_sh"), col("b_sh")).as("hamming"))
          .distinct()
          .filter(col("hamming") <= 3)
          .orderBy("a_id", "b_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tk
             |  FROM documents),
             |hs AS (
             |  SELECT doc_id, list_transform(tk, t -> ('0x' || substr(md5(t), 1, 16))::UBIGINT) AS th
             |  FROM toks),
             |sim AS (
             |  SELECT doc_id, CAST(COALESCE(list_sum(list_transform(range(0, 64), b ->
             |    CASE WHEN COALESCE(list_sum(list_transform(th, h ->
             |           CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
             |         THEN (1::UBIGINT << b) ELSE 0::UBIGINT END)), 0) AS UBIGINT) AS sh
             |  FROM hs),
             |keyed AS (
             |  SELECT doc_id, sh, chunk, (sh >> (chunk * 16)) & 65535 AS ckey
             |  FROM (SELECT doc_id, sh, unnest(range(0, 4)) AS chunk FROM sim)),
             |cand AS (
             |  SELECT a.doc_id AS a_id, a.sh AS a_sh, b.doc_id AS b_id, b.sh AS b_sh
             |  FROM keyed a JOIN keyed b ON a.chunk = b.chunk AND a.ckey = b.ckey
             |  WHERE a.doc_id < b.doc_id)
             |SELECT DISTINCT a_id, b_id, CAST(bit_count(xor(a_sh, b_sh)) AS INTEGER) AS hamming
             |FROM cand WHERE bit_count(xor(a_sh, b_sh)) <= 3
             |ORDER BY a_id, b_id""".stripMargin)),

    // Exact n-gram Jaccard near-dup, with MinHash-LSH candidate generation
    // (8 bands × 2 rows ≈ catches J ≥ 0.5 with high recall) instead of a
    // length-band blocking key — the earlier length-band version degenerated
    // to near-N² on uniform-length corpora (122 s at sf0.1; this is ~4 s).
    Q("dedup_ngram_jaccard", "dedup",
      (s, dir) => {
        // tSpread (r21 batch 3): same rationale as dedup_minhash_lsh — the
        // single-partition docs scan serialized the shingle+minhash cache
        // build on one core.
        val docs = tSpread(s, dir, "documents", "doc_id")
          .select(col("doc_id"), md5Shingles(col("text"), 2).as("sh"))
          .cache()
        val banded = docs
          .select(col("doc_id"), explode(lshBandKeysMd5(minhashMd5(col("sh"), 16), 8, 2)).as("bk"))
          .select(col("doc_id"), col("bk.band"), col("bk.key"))
          .cache() // both sides of the candidate self-join read this
        val candidates = banded.select(col("band"), col("key"), col("doc_id").as("a_id"))
          .join(banded.select(col("band"), col("key"), col("doc_id").as("b_id")), Seq("band", "key"))
          .filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id").distinct()
        // 60-bit compacted verify dimension (scaladoc: md5Prefix60)
        val dim = docs.select(col("doc_id"), md5Prefix60(col("sh")).as("s6"))
        candidates
          .join(dim.select(col("doc_id").as("a_id"), col("s6").as("a_sh")), Seq("a_id"))
          .join(dim.select(col("doc_id").as("b_id"), col("s6").as("b_sh")), Seq("b_id"))
          .select(col("a_id"), col("b_id"), jaccardSorted(col("a_sh"), col("b_sh")).as("jaccard"))
          .filter(col("jaccard") >= 0.5)
          .orderBy("a_id", "b_id")
      },
      Some(minhashOracle(n = 2, k = 16, bands = 8, rows = 2,
        """SELECT a_id, b_id, jaccard FROM verified
          |WHERE jaccard >= 0.5 ORDER BY a_id, b_id""".stripMargin))),

    // Embedding near-dup via cosine ≥ threshold on LSH-bucketed candidates.
    // (The synthetic embeddings have no true near-dups — max pairwise cosine
    // ≈ 0.48 — so the threshold/plane count here is tuned low to exercise the
    // candidate-generation + verify path; production settings would be
    // ≥ 0.95 with more planes.)
    Q("dedup_embedding_cosine", "dedup",
      (s, dir) => {
        val planes = hyperplanes(3, 64)
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), unitVector(col("embedding")).as("u"),
            lshBucket(col("embedding"), planes).as("bucket"))
        // Bucketed self-join as a shuffle on the bucket key — never
        // broadcast the full embeddings table.
        val a = e.select(col("bucket"), col("vec_id").as("a_id"), col("u").as("a_u"))
        val b = e.select(col("bucket"), col("vec_id").as("b_id"), col("u").as("b_u"))
        a.join(b, Seq("bucket"))
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"), dot(col("a_u"), col("b_u")).as("cos"))
          .filter(col("cos") >= 0.35)
          .orderBy("a_id", "b_id")
      },
      // Oracle carries the 3 seeded hyperplanes as exact round-trip double
      // literals (Double.toString) and mirrors unitVector / sign-LSH / dot
      // element for element; DuckDB's list_sum is the same left-to-right
      // fold as the native DotProductExpr, so even the unrounded cosines
      // hash-match (verified bit-exact at sf0.01).
      Some(embeddingCosineOracle)),

    // The composed dedup pipeline: near-dup candidate pairs (MinHash-LSH ∪
    // SimHash) → connected components over the pair graph → canonical
    // document = min doc_id per cluster. This is the shape a production
    // corpus dedup actually ships: pairs alone don't dedup anything until
    // transitive closure picks survivors.
    Q("dedup_canonical_assignment", "dedup",
      (s, dir) => {
        // tSpread (r21 batch 3): same rationale as dedup_minhash_lsh — the
        // single-partition docs scan serialized the shingle+minhash cache
        // build on one core.
        val docs = tSpread(s, dir, "documents", "doc_id")
          .select(col("doc_id"), md5Shingles(col("text"), 2).as("sh"))
          .cache()
        val banded = docs
          .select(col("doc_id"), explode(lshBandKeysMd5(minhashMd5(col("sh"), 16), 8, 2)).as("bk"))
          .select(col("doc_id"), col("bk.band"), col("bk.key"))
          .cache() // both sides of the candidate self-join read this
        val candidates = banded.select(col("band"), col("key"), col("doc_id").as("a_id"))
          .join(banded.select(col("band"), col("key"), col("doc_id").as("b_id")), Seq("band", "key"))
          .filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id").distinct()
        val dim = docs.select(col("doc_id"), md5Prefix60(col("sh")).as("s6"))
        val nearDupPairs = candidates
          .join(dim.select(col("doc_id").as("a_id"), col("s6").as("a_sh")), Seq("a_id"))
          .join(dim.select(col("doc_id").as("b_id"), col("s6").as("b_sh")), Seq("b_id"))
          .filter(jaccardSorted(col("a_sh"), col("b_sh")) >= 0.5)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        graft.graph.Components.connected(nearDupPairs)
          .select(col("vertex_id").as("doc_id"), col("component").as("canonical_id"))
          .orderBy("doc_id")
      },
      // components oracle: transitive closure of the verified pair graph by
      // recursive CTE (tiny — pairs, not documents), canonical = min
      // reachable id, exactly Components.connected's contract
      Some(minhashOracle(n = 2, k = 16, bands = 8, rows = 2,
        """, pairs AS (SELECT a_id, b_id FROM verified WHERE jaccard >= 0.5),
          |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
          |          UNION ALL SELECT b_id, a_id FROM pairs),
          |reach AS (
          |  SELECT u, v FROM (SELECT u, v FROM edges UNION SELECT u, u FROM edges)
          |  UNION
          |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
          |SELECT u AS doc_id, min(v) AS canonical_id FROM reach
          |GROUP BY u ORDER BY doc_id""".stripMargin))),

    // The COMPOSED corpus-cleaning pipeline — what a production
    // training-data job actually ships: language filter (keep predicted
    // English) → quality gate (length + stopword-density) → near-dup
    // survivor selection (drop every cluster member except the canonical
    // min-id doc). Each stage is individually oracled above; this query
    // oracles their composition end to end.
    Q("pipeline_corpus_filter", "dedup,text,compose",
      (s, dir) => {
        // tSpread: langId + qualityStats + shingling per doc amortize the
        // Exchange (r20 driver bench: 0.73× WITH the spread)
        val docs = tSpread(s, dir, "documents", "doc_id")
        val sh = docs.select(col("doc_id"), md5Shingles(col("text"), 2).as("sh")).cache()
        val banded = sh
          .select(col("doc_id"), explode(lshBandKeysMd5(minhashMd5(col("sh"), 16), 8, 2)).as("bk"))
          .select(col("doc_id"), col("bk.band"), col("bk.key"))
          .cache()
        val candidates = banded.select(col("band"), col("key"), col("doc_id").as("a_id"))
          .join(banded.select(col("band"), col("key"), col("doc_id").as("b_id")), Seq("band", "key"))
          .filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id").distinct()
        val dim = sh.select(col("doc_id"), md5Prefix60(col("sh")).as("s6"))
        val nearDupPairs = candidates
          .join(dim.select(col("doc_id").as("a_id"), col("s6").as("a_sh")), Seq("a_id"))
          .join(dim.select(col("doc_id").as("b_id"), col("s6").as("b_sh")), Seq("b_id"))
          .filter(jaccardSorted(col("a_sh"), col("b_sh")) >= 0.5)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        // non-canonical cluster members — the rows dedup removes
        val losers = graft.graph.Components.connected(nearDupPairs)
          .filter(col("vertex_id") =!= col("component"))
          .select(col("vertex_id").as("doc_id"))
        docs
          .withColumn("qs", qualityStats(col("text")))
          .filter(langId(col("text")) === "en" &&
            col("qs.n_tokens") >= 20 && col("qs.stopword_ratio") >= 0.03)
          .join(losers, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("qs.n_tokens").as("n_tokens"))
          .orderBy("doc_id")
      },
      Some(minhashOracle(n = 2, k = 16, bands = 8, rows = 2,
        """, pairs AS (SELECT a_id, b_id FROM verified WHERE jaccard >= 0.5),
          |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
          |          UNION ALL SELECT b_id, a_id FROM pairs),
          |reach AS (
          |  SELECT u, v FROM (SELECT u, v FROM edges UNION SELECT u, u FROM edges)
          |  UNION
          |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
          |losers AS (SELECT u AS doc_id FROM reach GROUP BY u HAVING u <> min(v)),
          |ltk AS (
          |  SELECT doc_id, list_transform(tk, x -> lower(x)) AS lt, len(tk) AS n_tokens
          |  FROM toks),
          |scored AS (
          |  SELECT doc_id, n_tokens,
          |    len(list_filter(lt, x -> x IN ('der','die','und','das','in','von','zu','den','mit','ist'))) AS s_de,
          |    len(list_filter(lt, x -> x IN ('the','and','of','to','a','in','is','that','it','for'))) AS s_en,
          |    len(list_filter(lt, x -> x IN ('el','la','de','que','y','en','un','los','se','por'))) AS s_es,
          |    len(list_filter(lt, x -> x IN ('le','la','de','et','les','des','en','un','du','que'))) AS s_fr
          |  FROM ltk)
          |SELECT doc_id, n_tokens FROM scored
          |-- predicted = 'en' per text_langid's CASE: en beats es/fr on ties
          |-- (listed first) but loses an en-de tie (de is checked first)
          |WHERE s_en > 0 AND s_en > s_de AND s_en >= s_es AND s_en >= s_fr
          |  AND n_tokens >= 20
          |  AND CAST(s_en AS DOUBLE) / n_tokens >= 0.03
          |  AND doc_id NOT IN (SELECT doc_id FROM losers)
          |ORDER BY doc_id""".stripMargin))),

    // Brute-force cosine similarity of fixed query vectors against the whole
    // table (selection-free — values only, so it can carry a DuckDB oracle;
    // rounded to absorb summation-order ULPs).
    Q("sim_cosine_pairs", "similarity",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_v"))
        e.select(col("vec_id").as("v_id"), col("embedding").as("v_v"))
          .crossJoin(broadcast(q))
          .filter(col("q_id") =!= col("v_id"))
          .select(col("q_id"), col("v_id"), round(cosine(col("q_v"), col("v_v")), 4).as("cos"))
          .orderBy("q_id", "v_id")
      },
      Some("""SELECT q.vec_id AS q_id, v.vec_id AS v_id,
             |  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                               CAST(v.embedding AS DOUBLE[])), 4) AS cos
             |FROM embeddings q, embeddings v
             |WHERE q.vec_id < 3 AND q.vec_id <> v.vec_id
             |ORDER BY q_id, v_id""".stripMargin)),

    // Brute-force top-k ANN baseline: top-10 neighbors per query vector.
    Q("sim_topk_bruteforce", "similarity",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), unitVector(col("embedding")).as("u"))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("u").as("q_u"))
        val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("v_id"))
        e.select(col("vec_id").as("v_id"), col("u").as("v_u"))
          .crossJoin(broadcast(q))
          .filter(col("q_id") =!= col("v_id"))
          .select(col("q_id"), col("v_id"), dot(col("q_u"), col("v_u")).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select(col("q_id"), col("v_id"), round(col("cos"), 4).as("cos"), col("rn"))
          .orderBy("q_id", "rn")
      },
      Some("""WITH cands AS (
             |  SELECT q.vec_id AS q_id, v.vec_id AS v_id,
             |         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                CAST(v.embedding AS DOUBLE[])) AS c
             |  FROM embeddings q, embeddings v
             |  WHERE q.vec_id < 5 AND q.vec_id <> v.vec_id),
             |ranked AS (
             |  SELECT q_id, v_id, c,
             |         row_number() OVER (PARTITION BY q_id ORDER BY c DESC, v_id) AS rn
             |  FROM cands)
             |SELECT q_id, v_id, round(c, 4) AS cos, rn FROM ranked
             |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin)),

    // LSH-bucketed ANN (the scale path: candidates only from matching sign-
    // LSH buckets, then exact re-rank — no crossJoin against the full table).
    // Plane count trades candidate volume for recall: sign-LSH keeps
    // neighbors at angle θ in one bucket with P = (1−θ/π)^planes, and this
    // synthetic corpus's true neighbors sit near cosine 0.4 (θ≈66°) — with
    // 6 planes recall@10 measured 0.0, with 2 planes ≈ brute-force/4 of the
    // comparisons at usable recall. Real embedding corpora (neighbors at
    // cosine ≥ 0.9) support many more planes.
    Q("sim_ann_lsh", "similarity",
      (s, dir) => {
        val planes = hyperplanes(2, 64)
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), unitVector(col("embedding")).as("u"),
            lshBucket(col("embedding"), planes).as("bucket"))
        val q = e.filter(col("vec_id") < 5)
          .select(col("bucket"), col("vec_id").as("q_id"), col("u").as("q_u"))
        val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("v_id"))
        e.select(col("bucket"), col("vec_id").as("v_id"), col("u").as("v_u"))
          .join(broadcast(q), Seq("bucket"))
          .filter(col("q_id") =!= col("v_id"))
          .select(col("q_id"), col("v_id"), dot(col("q_u"), col("v_u")).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select(col("q_id"), col("v_id"), round(col("cos"), 4).as("cos"), col("rn"))
          .orderBy("q_id", "rn")
      },
      Some(annLshOracle)),

    // LSH ANN with int8-quantized re-rank: same candidate generation, but
    // the scoring pass reads 1/8th the bytes (struct(scale, int8[]) vs
    // array<double>) — at 100 TB the re-rank is IO-bound and this is the
    // storage lever. Oracled exactly (annLshInt8Oracle mirrors the integer
    // MAC); AnnRecallSpec holds its recall floor and FunctionsSpec bounds
    // the dot-product error vs the float path.
    Q("sim_ann_lsh_int8", "similarity",
      (s, dir) => {
        val planes = hyperplanes(2, 64)
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), quantizeInt8(unitVector(col("embedding"))).as("qu"),
            lshBucket(col("embedding"), planes).as("bucket"))
        val q = e.filter(col("vec_id") < 5)
          .select(col("bucket"), col("vec_id").as("q_id"), col("qu").as("q_qu"))
        val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("v_id"))
        e.select(col("bucket"), col("vec_id").as("v_id"), col("qu").as("v_qu"))
          .join(broadcast(q), Seq("bucket"))
          .filter(col("q_id") =!= col("v_id"))
          .select(col("q_id"), col("v_id"), quantizedDot(col("q_qu"), col("v_qu")).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select(col("q_id"), col("v_id"), round(col("cos"), 4).as("cos"), col("rn"))
          .orderBy("q_id", "rn")
      },
      Some(annLshInt8Oracle)),

    // IVF ANN (the clustered scale path): cell assignment, probe the 2
    // nearest cells per query, exact cosine re-rank inside them. The cells
    // here are PLANTED deterministically — the 16 lowest-id vectors are the
    // centroids (sample-seeded IVF, no Lloyd pass) — so assignment and probe
    // are pure arithmetic the DuckDB oracle re-derives bit-exactly (the
    // k-means fit isn't SQL-mirrorable; the fitted variant keeps its recall
    // floor in AnnRecallSpec and its fit-once persistence in IvfSpec). At
    // 100 TB the assignment is bucketed by cluster (IvfAnn.save) so a probe
    // touches nprobe/k of the corpus.
    Q("sim_ann_ivf", "similarity",
      (s, dir) => {
        val eD = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val cents = eD.filter(col("vec_id") < 16).orderBy("vec_id")
          .collect().map(_.getSeq[Double](1).toArray) // 16×64 doubles: tiny
        val index = graft.ml.IvfAnn.buildWithCentroids(eD, "vec_id", "v", cents)
        val assigned = index.assigned
          .select(col("vec_id"), col("cluster"), unitVector(col("v")).as("u"))
          .cache()
        // Probing as a join: queries → (query, probe_cell) rows → equi-join
        // `assigned` on cluster. One plan regardless of query-set size. The
        // probe side is the small one, so broadcasting IT is correct.
        val qRaw = eD.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("v").as("q_v"))
        val probes = graft.ml.IvfAnn.probe(index, qRaw, "q_id", "q_v", nprobe = 2)
          .select(col("cluster"), col("q_id"))
        val qUnit = assigned.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("u").as("q_u"))
        val probeU = probes.join(qUnit, Seq("q_id"))
        val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("v_id"))
        assigned.select(col("cluster"), col("vec_id").as("v_id"), col("u").as("v_u"))
          .join(broadcast(probeU), Seq("cluster"))
          .filter(col("q_id") =!= col("v_id"))
          .select(col("q_id"), col("v_id"), dot(col("q_u"), col("v_u")).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select(col("q_id"), col("v_id"), round(col("cos"), 4).as("cos"), col("rn"))
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |cent AS (SELECT vec_id AS cl, v AS c FROM e WHERE vec_id < 16),
             |scored AS (
             |  SELECT e.vec_id, cent.cl,
             |         list_sum(list_transform(list_zip(e.v, e.v), p -> p[1]*p[2]))
             |         - 2.0 * list_sum(list_transform(list_zip(e.v, cent.c), p -> p[1]*p[2]))
             |         + list_sum(list_transform(list_zip(cent.c, cent.c), p -> p[1]*p[2])) AS d2
             |  FROM e CROSS JOIN cent),
             |assigned AS (
             |  SELECT vec_id, cl AS cluster FROM (
             |    SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
             |    FROM scored) WHERE rn = 1),
             |probes AS (
             |  SELECT vec_id AS q_id, cl AS cluster FROM (
             |    SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
             |    FROM scored WHERE vec_id < 5) WHERE rn <= 2),
             |unit AS (
             |  SELECT vec_id,
             |         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
             |  FROM e),
             |cands AS (
             |  SELECT p.q_id, a.vec_id AS v_id,
             |         list_sum(list_transform(list_zip(qu.u, au.u), z -> z[1]*z[2])) AS c
             |  FROM probes p
             |  JOIN assigned a ON p.cluster = a.cluster
             |  JOIN unit au ON au.vec_id = a.vec_id
             |  JOIN unit qu ON qu.vec_id = p.q_id
             |  WHERE a.vec_id <> p.q_id),
             |ranked AS (
             |  SELECT q_id, v_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, v_id) AS rn
             |  FROM cands)
             |SELECT q_id, v_id, round(c, 4) AS cos, CAST(rn AS INTEGER) AS rn
             |FROM ranked WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin)),

    // Token counting (whitespace tokenizer) — SQL-expressible, oracled.
    Q("text_token_count", "text",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"),
          size(array_distinct(tokens(col("text")))).as("n_distinct"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS n_tokens,
             |  len(list_distinct(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0))) AS n_distinct
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Quality scoring: length / punctuation / stopword ratios.
    Q("text_quality", "text",
      // tSpread: per-doc tokenize + ratio stats amortize the Exchange
      // (r20 driver bench: 0.63× WITH the spread)
      (s, dir) => tSpread(s, dir, "documents", "doc_id")
        .withColumn("qs", qualityStats(col("text")))
        .select(col("doc_id"), col("qs.n_chars").as("n_chars"),
          col("qs.n_tokens").as("n_tokens"),
          round(col("qs.mean_token_len"), 4).as("mean_token_len"),
          round(col("qs.punct_ratio"), 4).as("punct_ratio"),
          round(col("qs.stopword_ratio"), 4).as("stopword_ratio"))
        .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, length(text) AS n_chars,
             |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tk,
             |         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
             |  FROM documents)
             |SELECT doc_id, n_chars, len(tk) AS n_tokens,
             |  round(CAST(list_sum(list_transform(tk, x -> len(x))) AS DOUBLE) / len(tk), 4) AS mean_token_len,
             |  round(CAST(n_punct AS DOUBLE) / n_chars, 4) AS punct_ratio,
             |  round(CAST(len(list_filter(tk, x -> lower(x) IN
             |    ('the','and','of','to','a','in','is','that','it','for'))) AS DOUBLE) / len(tk), 4)
             |    AS stopword_ratio
             |FROM toks ORDER BY doc_id""".stripMargin)),

    // Language ID heuristic vs the labeled lang column. Oracle mirrors
    // LangScoreExpr exactly: per-language stopword hit counts, argmax with
    // lexicographic-first tie-break, 'und' when nothing hits.
    Q("text_langid", "text",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("labeled"), langId(col("text")).as("predicted"))
        .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, lang AS labeled,
             |         list_transform(list_filter(string_split_regex(text, '\s+'),
             |                                    x -> len(x) > 0), x -> lower(x)) AS tk
             |  FROM documents),
             |scores AS (
             |  SELECT doc_id, labeled,
             |    len(list_filter(tk, x -> x IN ('der','die','und','das','in','von','zu','den','mit','ist'))) AS s_de,
             |    len(list_filter(tk, x -> x IN ('the','and','of','to','a','in','is','that','it','for'))) AS s_en,
             |    len(list_filter(tk, x -> x IN ('el','la','de','que','y','en','un','los','se','por'))) AS s_es,
             |    len(list_filter(tk, x -> x IN ('le','la','de','et','les','des','en','un','du','que'))) AS s_fr
             |  FROM toks)
             |SELECT doc_id, labeled,
             |  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
             |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
             |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
             |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
             |       ELSE 'fr' END AS predicted
             |FROM scores ORDER BY doc_id""".stripMargin)),

    // Order-sensitive document fingerprint: md5 chained over the per-token
    // md5 stream (equal documents collide, reordered ones don't), plus the
    // portable simhash exported as unsigned hex — everything md5-derived, so
    // the oracle mirrors it exactly. The xxhash64 kernels (fingerprint /
    // simhash64) remain the cheaper production variants (FunctionsSpec).
    Q("text_fingerprint", "text",
      // tSpread: per-token md5 chain + simhash amortize the Exchange
      // (r20 driver bench: 0.62× WITH the spread)
      (s, dir) => tSpread(s, dir, "documents", "doc_id")
        .select(col("doc_id"),
          md5(concat_ws("", transform(tokens(col("text")),
            tok => md5(tok.cast("binary")))).cast("binary")).as("fp"),
          format_string("%016x", simhashMd5(col("text"))).as("simhash"))
        .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tk
             |  FROM documents),
             |hs AS (
             |  SELECT doc_id, tk,
             |         list_transform(tk, t -> ('0x' || substr(md5(t), 1, 16))::UBIGINT) AS th
             |  FROM toks),
             |sim AS (
             |  SELECT doc_id, tk, CAST(COALESCE(list_sum(list_transform(range(0, 64), b ->
             |    CASE WHEN COALESCE(list_sum(list_transform(th, h ->
             |           CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
             |         THEN (1::UBIGINT << b) ELSE 0::UBIGINT END)), 0) AS UBIGINT) AS sh
             |  FROM hs)
             |SELECT doc_id,
             |  md5(array_to_string(list_transform(tk, t -> md5(t)), '')) AS fp,
             |  lower(lpad(to_hex(sh), 16, '0')) AS simhash
             |FROM sim ORDER BY doc_id""".stripMargin)),

    // BPE-ish sub-word token count. DuckDB's RE2 has no lookarounds, so the
    // oracle counts the equivalent decomposition directly: maximal letter
    // runs + maximal digit runs + non-alnum non-space characters.
    Q("text_bpeish_tokens", "text",
      // no tSpread (r21 batch 3 A/B: 0.736 → 0.716 s — noise; the
      // three-regex decomposition over 5k fixture docs doesn't amortize
      // an Exchange the way the md5/simhash chains do)
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), size(bpeishTokens(col("text"))).as("n_subword_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  len(regexp_extract_all(lower(text), '[a-z]+'))
             |  + len(regexp_extract_all(text, '[0-9]+'))
             |  + len(regexp_extract_all(lower(text), '[^a-z0-9 \t\n\r]')) AS n_subword_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Repetition quality signals (the Gopher-style filters): distinct-token
    // ratio, most-common-bigram share, duplicate-trigram share, and a
    // repetitive flag. Relational formulation — explode n-grams, count per
    // (doc, gram), re-aggregate per doc — so the work is two partial-agg
    // shuffles keyed (doc_id, gram), never a per-document quadratic pass;
    // at 100 TB the map-side combine absorbs the fan-out.
    Q("text_repetition", "text",
      (s, dir) => {
        // Every statistic is a function of ONE document, so this is a
        // map-only scan: RepetitionStatsExpr counts each doc's grams in a
        // per-row hash pass (gram conventions mirror tokenGrams). Earlier
        // rounds' explode-grams → groupBy(doc, gram) → re-aggregate shape
        // shuffled the gram-expanded corpus twice (r6 judge bench: 4-6 s at
        // sf0.1, and at 100 TB a shuffle of ~2× the corpus); the DuckDB
        // oracle deliberately keeps that independent relational formulation.
        // isNotNull mirrors the old shape's explode(null) row-drop.
        // tSpread: the per-row gram-count hash pass amortizes the
        // Exchange (r20 driver bench: 0.79× WITH the spread)
        val d = tSpread(s, dir, "documents", "doc_id")
        d.select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(col("tk").isNotNull)
          .select(col("doc_id"), size(col("tk")).as("n_tok"),
            graft.functions.expressions.RepetitionStatsExpr(col("tk")).as("st"))
          .select(col("doc_id"),
            col("n_tok").cast("int").as("n_tokens"),
            round(col("st.n_distinct").cast("double") / col("n_tok"), 4)
              .as("distinct_ratio"),
            round(col("st.big_top").cast("double") / col("st.big_total"), 4)
              .as("top_bigram_frac"),
            round(col("st.tri_dup").cast("double") / col("st.tri_total"), 4)
              .as("dup_trigram_frac"))
          .select(col("doc_id"), col("n_tokens"), col("distinct_ratio"),
            col("top_bigram_frac"), col("dup_trigram_frac"),
            (col("top_bigram_frac") > 0.18 || col("dup_trigram_frac") > 0.30 ||
              col("distinct_ratio") < 0.30).cast("int").as("repetitive"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tk
             |  FROM documents),
             |g2 AS (
             |  SELECT doc_id, unnest(CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
             |    ELSE list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' ')) END) AS gram
             |  FROM toks),
             |c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY doc_id, gram),
             |s2 AS (SELECT doc_id,
             |    round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) AS top_bigram_frac
             |  FROM c2 GROUP BY doc_id),
             |g3 AS (
             |  SELECT doc_id, unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
             |    ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END) AS gram
             |  FROM toks),
             |c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY doc_id, gram),
             |s3 AS (SELECT doc_id,
             |    round(CAST(COALESCE(sum(CASE WHEN c >= 2 THEN c END), 0) AS DOUBLE) /
             |          CAST(sum(c) AS DOUBLE), 4) AS dup_trigram_frac
             |  FROM c3 GROUP BY doc_id),
             |base AS (SELECT doc_id, len(tk) AS n_tokens,
             |    round(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 4) AS distinct_ratio
             |  FROM toks)
             |SELECT base.doc_id AS doc_id, n_tokens, distinct_ratio, top_bigram_frac, dup_trigram_frac,
             |  CAST(top_bigram_frac > 0.18 OR dup_trigram_frac > 0.30 OR distinct_ratio < 0.30
             |       AS INTEGER) AS repetitive
             |FROM base JOIN s2 USING (doc_id) JOIN s3 USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // PII detection + redaction: email / URL / long-digit-run counts and the
    // md5 of the redacted text (proves the replacement output exactly without
    // shipping it). The synthetic corpus carries no PII, so each doc is
    // deterministically augmented with one marker derived from doc_id —
    // the detection regexes are RE2-safe (no lookarounds) and replacement
    // order (email → URL → digits) is part of the contract.
    Q("text_pii_redact", "text",
      (s, dir) => {
        val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
        val url = "https?://[^ ]+"
        val digits = "[0-9]{7,}"
        // tSpread: three regexp_count + three regexp_replace passes per
        // doc amortize the Exchange (r20 driver bench: 0.61× WITH it)
        val aug = tSpread(s, dir, "documents", "doc_id").select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" reach me at user"), col("doc_id"), lit("@example.com")))
          .when(col("doc_id") % 3 === 1,
            concat(lit(" see https://example.org/p/"), col("doc_id")))
          .otherwise(concat(lit(" call "),
            lpad((col("doc_id") * lit(7919L) % lit(1000000000L)).cast("string"), 9, "0")))
          ).as("text"))
        aug.select(col("doc_id"),
          regexp_count(col("text"), lit(email)).as("n_emails"),
          regexp_count(col("text"), lit(url)).as("n_urls"),
          regexp_count(col("text"), lit(digits)).as("n_digit_runs"),
          md5(regexp_replace(regexp_replace(regexp_replace(col("text"),
            lit(email), lit("<EMAIL>")), lit(url), lit("<URL>")),
            lit(digits), lit("<NUM>")).cast("binary")).as("redacted_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH aug AS (
             |  SELECT doc_id, text ||
             |    CASE WHEN doc_id % 3 = 0 THEN ' reach me at user' || doc_id || '@example.com'
             |         WHEN doc_id % 3 = 1 THEN ' see https://example.org/p/' || doc_id
             |         ELSE ' call ' || lpad(CAST(doc_id * 7919 % 1000000000 AS VARCHAR), 9, '0')
             |    END AS text
             |  FROM documents)
             |SELECT doc_id,
             |  len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
             |  len(regexp_extract_all(text, 'https?://[^ ]+')) AS n_urls,
             |  len(regexp_extract_all(text, '[0-9]{7,}')) AS n_digit_runs,
             |  md5(regexp_replace(regexp_replace(regexp_replace(text,
             |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             |    'https?://[^ ]+', '<URL>', 'g'),
             |    '[0-9]{7,}', '<NUM>', 'g')) AS redacted_md5
             |FROM aug ORDER BY doc_id""".stripMargin)),

    // Multimodal plumbing: treat content as an opaque binary column with
    // typed metadata. Image payloads decode for real via javax.imageio
    // (MediaSpec proves it on a PNG fixture); these text blobs take the
    // deterministic non-image fallback, which the oracle mirrors.
    Q("multimodal_binary_meta", "multimodal",
      (s, dir) => t(s, dir, "documents")
        .withColumn("blob", col("text").cast("binary"))
        .select(col("doc_id"), octet_length(col("blob")).as("n_bytes"),
          graft.multimodal.Media.fakeWidth(col("blob")).as("width"),
          graft.multimodal.Media.fakeHeight(col("blob")).as("height"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             |  16 + octet_length(encode(text)) % 241 AS width,
             |  16 + (octet_length(encode(text)) // 241) % 241 AS height
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Frame sampling over the decoded metadata: every 4th frame index per
    // document — the explode fan-out through the real mapPartitions decode
    // path (text blobs take the deterministic non-image branch, which the
    // oracle mirrors).
    Q("multimodal_frame_sample", "multimodal",
      (s, dir) => graft.multimodal.Media.sampleFrames(
        t(s, dir, "documents").withColumn("blob", col("text").cast("binary")),
        "doc_id", "blob", everyK = 4)
        .orderBy("doc_id", "frame_idx"),
      Some("""SELECT doc_id,
             |  unnest(range(0, 1 + octet_length(encode(text)) % 32, 4)) AS frame_idx
             |FROM documents ORDER BY doc_id, frame_idx""".stripMargin)),

    // Feature extraction over the binary column (the embedding-model /
    // quality-filter input stage): real per-channel raster means for
    // images (MediaSpec pins the PNG/BMP branch), deterministic
    // length-derived fallback for these text blobs, which the oracle
    // mirrors formula for formula.
    Q("multimodal_feature_extract", "multimodal",
      (s, dir) => graft.multimodal.Media.extractFeatures(
        t(s, dir, "documents").withColumn("blob", col("text").cast("binary")),
        "doc_id", "blob")
        .select("doc_id", "n_bytes", "mean_r", "mean_g", "mean_b")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             |  CAST(octet_length(encode(text)) % 256 AS DOUBLE) AS mean_r,
             |  CAST(octet_length(encode(text)) * 31 % 256 AS DOUBLE) AS mean_g,
             |  CAST(octet_length(encode(text)) * 131 % 256 AS DOUBLE) AS mean_b
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Nearest-neighbor resize to a 32x32 thumbnail: real raster resample +
    // PNG re-encode for images (MediaSpec pins dims and the pixel-sum
    // digest), deterministic digest fallback for text blobs — the digest,
    // not the codec bytes, is the engine-portable hash the oracle checks.
    Q("multimodal_resize", "multimodal",
      (s, dir) => graft.multimodal.Media.resizeNearest(
        t(s, dir, "documents").withColumn("blob", col("text").cast("binary")),
        "doc_id", "blob", tw = 32, th = 32)
        .select("doc_id", "out_width", "out_height", "pixel_sum")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, 32 AS out_width, 32 AS out_height,
             |  CAST(octet_length(encode(text)) AS BIGINT) * 2654435761 % 1000000007 AS pixel_sum
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Header-only dimension read as a NATIVE codegen'd expression (no RDD
    // round-trip — legal in streaming plans): text blobs parse to NULL, a
    // handcrafted literal BMP (encoder-independent bytes) parses to its
    // real dimensions — so the ORACLE pins the actual image path
    // cross-engine, not just the fallback.
    Q("multimodal_dims_expr", "multimodal",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("blob"))
        val demo = s.range(1).select(lit(-1L).as("doc_id"),
          lit(graft.multimodal.Media.tinyBmp(5, 3)).as("blob"))
        docs.unionByName(demo)
          .select(col("doc_id"),
            graft.functions.expressions.ImageDimsExpr(col("blob")).as("d"))
          .select(col("doc_id"), col("d.width").as("width"),
            col("d.height").as("height"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(NULL AS INTEGER) AS width,
             |  CAST(NULL AS INTEGER) AS height FROM documents
             |UNION ALL SELECT -1, 5, 3
             |ORDER BY doc_id""".stripMargin)),

    // Deterministic content-stable train/holdout split: bucket = first hex
    // byte of md5("split:" || doc_id), holdout iff bucket < 0x0d (13/256 ≈
    // 5%). Pure per-row projection — no shuffle, no RNG: the property a
    // 100 TB pipeline needs so a re-run (or a different cluster) never
    // leaks holdout docs into training. Engine-portable: md5 both sides.
    Q("pipeline_split_sample", "sampling",
      (s, dir) => {
        val bucket = substring(md5(concat(lit("split:"),
          col("doc_id").cast("string")).cast("binary")), 1, 2)
        t(s, dir, "documents")
          .select(col("doc_id"), bucket.as("bucket"),
            when(bucket < "0d", lit("holdout")).otherwise(lit("train")).as("split"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, substr(md5('split:' || doc_id), 1, 2) AS bucket,
             |  CASE WHEN substr(md5('split:' || doc_id), 1, 2) < '0d'
             |       THEN 'holdout' ELSE 'train' END AS split
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Stratified per-language sample: first 20 docs per lang in
    // deterministic md5 order — the balanced-subset op for eval-set
    // construction over a skewed-language corpus. lang has FEW values, so
    // a bare per-lang window would funnel the whole corpus into a handful
    // of sort partitions at 100 TB; instead an exact two-level top-k: a
    // first window keyed (lang, input-partition id) — balanced, parallel —
    // keeps 20 rows per (lang, pid) (the global per-lang top-20 is
    // contained in their union), so the final per-lang sort sees ≤ 20 ×
    // partitions rows. Result is partitioning-independent: the second
    // window re-ranks globally.
    Q("pipeline_stratified_sample", "sampling",
      (s, dir) => {
        val key = md5(concat(lit("strat:"), col("doc_id").cast("string")).cast("binary"))
        val local = Window.partitionBy("lang", "pid").orderBy(col("k"), col("doc_id"))
        val global = Window.partitionBy("lang").orderBy(col("k"), col("doc_id"))
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), key.as("k"),
            spark_partition_id().as("pid"))
          .withColumn("lrn", row_number().over(local)).filter(col("lrn") <= 20)
          .withColumn("rn", row_number().over(global)).filter(col("rn") <= 20)
          .select(col("lang"), col("rn"), col("doc_id"))
          .orderBy("lang", "rn")
      },
      Some("""SELECT lang, rn, doc_id FROM (
             |  SELECT lang, doc_id, row_number() OVER (
             |    PARTITION BY lang ORDER BY md5('strat:' || doc_id), doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin)),

    // Source-weighted corpus mixing (the Dolma/Pile mixing primitive):
    // each source keeps a deterministic hash fraction of its docs — here
    // quarter-weights derived from the source index (0.25/0.5/0.75/1.0).
    // Pure per-row projection + filter: no RNG, no shuffle; re-runs and
    // different clusters select the identical subset, and changing one
    // source's weight never reshuffles another's sample.
    Q("pipeline_source_mixing", "sampling,mixing",
      (s, dir) => {
        // TRY_CAST + coalesce on BOTH sides: a digit-free source value makes
        // regexp_extract return '', which ANSI CAST hard-errors on (and a
        // nullable cast would silently null-drop the row) — either way the
        // engine and the oracle diverge. Defaulting to index 0 keeps every
        // source deterministic and both engines identical.
        val quarter = (coalesce(
          expr("try_cast(regexp_extract(source, '[0-9]+', 0) AS INT)"),
          lit(0)) % 4) + 1
        val threshold = element_at(
          array(lit("4000"), lit("8000"), lit("c000"), lit("zzzz")), quarter)
        t(s, dir, "documents")
          .filter(substring(md5(concat(lit("mix:"),
            col("doc_id").cast("string")).cast("binary")), 1, 4) < threshold)
          .select("doc_id", "source")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source FROM documents
             |WHERE substr(md5('mix:' || doc_id), 1, 4) <
             |      list_extract(['4000','8000','c000','zzzz'],
             |                   (coalesce(TRY_CAST(regexp_extract(source, '[0-9]+') AS INTEGER), 0) % 4) + 1)
             |ORDER BY doc_id""".stripMargin)),

    // Train/test contamination detection (the GPT-3/Gopher decontamination
    // op): corpus docs sharing any verbatim 8-gram with a benchmark set.
    // Benchmark stand-in = doc_id % 20 == 0. Scale shape (r16, shared
    // builder — see contaminationPlan): at fixture scale the benchmark
    // gram set broadcasts into one semi-join; above the 64 MB corpus stat
    // the row takes the Bloom-prefiltered plan — the full-stream hash
    // probe disappears and the corpus grams meet a codegen'd scan-side
    // sketch filter instead, with the exact verify join behind it.
    Q("pipeline_contamination", "decontamination",
      (s, dir) => contaminationPlan(s, dir, forceBloom = false),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tk
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, unnest(CASE WHEN len(tk) < 8 THEN [array_to_string(tk, ' ')]
             |    ELSE list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' ')) END) AS gram
             |  FROM toks),
             |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0)
             |SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared_8grams
             |FROM g JOIN bench USING (gram)
             |WHERE g.doc_id % 20 <> 0
             |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin)),

    // The same contamination check with the BLOOM-FILTER PREFILTER forced
    // at any scale — the demonstration row for the plan the exact row
    // adopts above the corpus-stat gate (see contaminationPlan): the
    // benchmark gram sketch embeds as a LITERAL and the exploded corpus
    // gram stream meets it at ~ns/row in whole-stage codegen; the exact
    // broadcast verify join removes the sketch's false positives, so
    // results are IDENTICAL to pipeline_contamination (same oracle).
    Q("pipeline_contamination_bloom", "decontamination",
      (s, dir) => contaminationPlan(s, dir, forceBloom = true),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tk
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, unnest(CASE WHEN len(tk) < 8 THEN [array_to_string(tk, ' ')]
             |    ELSE list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' ')) END) AS gram
             |  FROM toks),
             |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0)
             |SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared_8grams
             |FROM g JOIN bench USING (gram)
             |WHERE g.doc_id % 20 <> 0
             |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin)),

    // Sequence packing (the pretraining batch-construction fold): docs in
    // corpus order greedily packed into fixed-token-budget bins, per shard
    // (doc_id % 8) so shards pack independently and in parallel — exactly
    // how a 100 TB pipeline packs per-worker. The reset fold (bin += 1 when
    // fill + n would exceed the budget) is arbitrary per-group state, same
    // machinery as sessionizeBatchUs; the oracle re-derives it with a
    // recursive CTE.
    Q("pipeline_pack_sequences", "packing",
      (s, dir) => {
        import s.implicits._
        val cap = 256
        val counts = t(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
            size(tokens(col("text"))).as("n_tokens"))
          .selectExpr("CAST(shard AS BIGINT)", "CAST(doc_id AS BIGINT)",
            "CAST(n_tokens AS BIGINT)")
          .as[(Long, Long, Long)]
        graft.operators.SequencePacking.pack(counts, cap)
          .orderBy("shard", "bin", "doc_id")
      },
      Some("""WITH RECURSIVE counts AS (
             |  SELECT doc_id, doc_id % 8 AS shard,
             |         len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS n_tokens,
             |         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
             |  FROM documents),
             |p AS (
             |  SELECT shard, rn, doc_id, n_tokens,
             |         CAST(0 AS BIGINT) AS bin, n_tokens AS fill
             |  FROM counts WHERE rn = 1
             |  UNION ALL
             |  SELECT c.shard, c.rn, c.doc_id, c.n_tokens,
             |         CASE WHEN p.fill + c.n_tokens > 256 AND p.fill > 0
             |              THEN p.bin + 1 ELSE p.bin END,
             |         CASE WHEN p.fill + c.n_tokens > 256 AND p.fill > 0
             |              THEN c.n_tokens ELSE p.fill + c.n_tokens END
             |  FROM p JOIN counts c ON c.shard = p.shard AND c.rn = p.rn + 1)
             |SELECT shard, bin, doc_id, n_tokens FROM p
             |ORDER BY shard, bin, doc_id""".stripMargin)),

    // Embedding outlier scoring (quality filtering): cosine of each vector
    // to its LABEL CENTROID, bottom-5 per label = the mislabeled/outlier
    // candidates. Determinism across engines: components quantized to
    // integer thousandths, so centroid sums, dot products and norms are
    // EXACT integers (order-independent) and the final cosine is one
    // double expression over them, rounded before ranking. Scale shape:
    // one partial-agg shuffle for the 10×64 centroid table (broadcast
    // back), one scan for the scores.
    Q("sim_label_centroid_outlier", "similarity,quality",
      (s, dir) => {
        val q = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            transform(col("embedding"),
              x => round(x.cast("double") * 1000).cast("long")).as("qv"))
        val cent = q
          .select(col("label"), posexplode(col("qv")).as(Seq("d", "x")))
          .groupBy("label", "d").agg(sum("x").as("s"))
          .groupBy("label")
          .agg(transform(sort_array(collect_list(struct(col("d"), col("s")))),
            e => e.getField("s")).as("c"))
        val dot = aggregate(zip_with(col("qv"), col("c"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x)
        val nv2 = aggregate(transform(col("qv"), a => a * a), lit(0L), (acc, x) => acc + x)
        // The centroid norm squares SUMS: c_i ~ rows_per_label × 1000, so
        // c_i² overflows Long at ~400k rows/label (where DuckDB's list_sum
        // would widen instead — silent engine-vs-oracle divergence). Square
        // in double on BOTH sides: identical inputs, identical left-to-right
        // 64-element fold, and round(…, 6) absorbs any last-ulp skew. dot
        // and nv2 stay exact-integer (qv_i ≤ ~10³; dot ≤ 64·10³·c_i — Long
        // holds that to ~10¹¹ rows/label).
        val nc2 = aggregate(transform(col("c"),
          a => a.cast("double") * a.cast("double")), lit(0.0), (acc, x) => acc + x)
        val cos = round(dot.cast("double") /
          (sqrt(nv2.cast("double")) * sqrt(nc2.cast("double"))), 6)
        val w = Window.partitionBy("label").orderBy(col("centroid_cos"), col("vec_id"))
        q.join(broadcast(cent), Seq("label"))
          .select(col("label"), col("vec_id"), cos.as("centroid_cos"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
          .select(col("label"), col("rn"), col("vec_id"), col("centroid_cos"))
          .orderBy("label", "rn")
      },
      Some("""WITH q AS (
             |  SELECT vec_id, label,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |dims AS (
             |  SELECT label, d, sum(qv[d]) AS s
             |  FROM q, range(1, 65) t(d) GROUP BY label, d),
             |cent AS (SELECT label, list(s ORDER BY d) AS c FROM dims GROUP BY label),
             |scored AS (
             |  SELECT q.label, q.vec_id,
             |    round(CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * c[i])) AS DOUBLE) /
             |          (sqrt(CAST(list_sum(list_transform(qv, a -> a * a)) AS DOUBLE)) *
             |           sqrt(list_sum(list_transform(c, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))), 6) AS centroid_cos
             |  FROM q JOIN cent ON q.label = cent.label)
             |SELECT label, rn, vec_id, centroid_cos FROM (
             |  SELECT label, vec_id, centroid_cos,
             |         row_number() OVER (PARTITION BY label ORDER BY centroid_cos, vec_id) AS rn
             |  FROM scored) WHERE rn <= 5
             |ORDER BY label, rn""".stripMargin)),

    // BPE tokenizer TRAINING under the hash gate: the classic Sennrich
    // word-frequency fixture trained for 6 merges on the default route
    // (the table fits the driver, so one collect feeds the incremental
    // in-heap trainer; ties break lexicographically). Literal-VALUES
    // golden — BpeSpec hand-derives the first four merges; the fixture
    // is inline so the answer is scale-factor-independent (sf documents
    // aren't prefix-stable).
    Q("text_bpe_merges", "text,bpe",
      (s, _) => {
        import s.implicits._
        val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
          .toDF("word", "count")
        graft.operators.Bpe.train(words, 6)
          .zipWithIndex.map { case ((a, b), i) => (i + 1, a, b) }
          .toDF("rank", "left", "right").orderBy("rank")
      },
      Some("""SELECT * FROM (VALUES
             | (1, 'e', 's'), (2, 'es', 't'), (3, 'l', 'o'),
             | (4, 'lo', 'w'), (5, 'e', 'w'), (6, 'ew', 'est'))
             | AS t(rank, "left", "right")
             |ORDER BY rank""".stripMargin)),

    // The OCCURRENCE-INDEX-SERVED table loop under the hash gate (r18,
    // r17 verdict #8): text_bpe_merges rides the default in-heap regime,
    // so r17's biggest lever — the bucketed occurrence index — had no
    // oracled row. This row forces the distributed TABLE LOOP
    // (inHeapMaxBytes = 0, hybridMaxPairs = 0) with per-call
    // occIndexAfterSparseRounds = 0 so the index builds immediately and
    // serves every sparse round; the
    // closure REQUIRES the served counter to have advanced (a silent
    // admission regression fails Verify loudly — the zero-cycle row's
    // counter pattern) and pins the merges against the same run with the
    // index DISABLED (-1, the forced-scan control) before oracling them
    // against the hand-verified Sennrich golden (same VALUES as
    // text_bpe_merges — regime parity is the invariant under test).
    Q("text_bpe_merges_indexed", "text,bpe",
      (s, _) => {
        import s.implicits._
        val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
          .toDF("word", "count")
        // session-local evidence (r19, r18 verdict #2): only THIS call
        // advances the telemetry it passes, so a concurrent train() in
        // the JVM cannot false-pass the regime proof
        val tel = new graft.operators.Bpe.TrainTelemetry
        val indexed = graft.operators.Bpe.train(words, 6,
          inHeapMaxBytes = 0L, hybridMaxPairs = 0L,
          occIndexAfterSparseRounds = 0, telemetry = tel)
        require(tel.occProbeServed.get() > 0L,
          "indexed BPE row did not serve a round from the occurrence index")
        val scanned = graft.operators.Bpe.train(words, 6,
          inHeapMaxBytes = 0L, hybridMaxPairs = 0L,
          occIndexAfterSparseRounds = -1)
        require(indexed == scanned,
          s"occurrence-index merges diverged from the forced-scan control:" +
            s"\n  indexed: $indexed\n  scanned: $scanned")
        indexed.zipWithIndex.map { case ((a, b), i) => (i + 1, a, b) }
          .toDF("rank", "left", "right").orderBy("rank")
      },
      Some("""SELECT * FROM (VALUES
             | (1, 'e', 's'), (2, 'es', 't'), (3, 'l', 'o'),
             | (4, 'lo', 'w'), (5, 'e', 'w'), (6, 'ew', 'est'))
             | AS t(rank, "left", "right")
             |ORDER BY rank""".stripMargin)),

    // The PROACTIVE ovI-BOUND INDEX REBUILD under the hash gate (r19,
    // r18 verdict #1): the 1.51× deep-tail lever (Bpe.scala maybeBuild —
    // a live index rebuilds at round start once its rewritten-since-build
    // overlay outgrows occIndexRebuildOvWords) had a forced-rebuild spec
    // case but no oracled catalog row. Same table-loop forcing as
    // text_bpe_merges_indexed, with per-call occIndexRebuildOvWords = 1
    // so the overlay (2+ rewritten words per merge round on this fixture)
    // trips a rebuild nearly every round; the closure REQUIRES the
    // rebuild counter advanced on ITS OWN telemetry AND pins the merges
    // against the rebuild-disabled control (occIndexRebuildOvWords = 0)
    // before oracling them against the hand-verified Sennrich golden —
    // rebuild-path parity is the invariant under test.
    Q("text_bpe_merges_rebuild", "text,bpe",
      (s, _) => {
        import s.implicits._
        val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
          .toDF("word", "count")
        val tel = new graft.operators.Bpe.TrainTelemetry
        val rebuilt = graft.operators.Bpe.train(words, 6,
          inHeapMaxBytes = 0L, hybridMaxPairs = 0L,
          occIndexAfterSparseRounds = 0, occIndexRebuildOvWords = 1,
          telemetry = tel)
        require(tel.occIndexRebuilds.get() > 0L,
          "rebuild BPE row did not take the proactive ovI-bound rebuild path")
        val control = graft.operators.Bpe.train(words, 6,
          inHeapMaxBytes = 0L, hybridMaxPairs = 0L,
          occIndexAfterSparseRounds = 0, occIndexRebuildOvWords = 0)
        require(rebuilt == control,
          s"rebuild-path merges diverged from the single-build control:" +
            s"\n  rebuilt: $rebuilt\n  control: $control")
        rebuilt.zipWithIndex.map { case ((a, b), i) => (i + 1, a, b) }
          .toDF("rank", "left", "right").orderBy("rank")
      },
      Some("""SELECT * FROM (VALUES
             | (1, 'e', 's'), (2, 'es', 't'), (3, 'l', 'o'),
             | (4, 'lo', 'w'), (5, 'e', 'w'), (6, 'ew', 'est'))
             | AS t(rank, "left", "right")
             |ORDER BY rank""".stripMargin)),

    // BPE ENCODING at corpus scale with the merges text_bpe_merges just
    // pinned: per-document sub-word count after the 6-merge replace chain.
    // The double-space symbol representation makes each merge a plain
    // (non-regex) string replace that DuckDB reproduces verbatim — greedy
    // left-to-right BPE in both engines.
    Q("text_bpe_encode", "text,bpe",
      (s, dir) => {
        val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"),
          ("lo", "w"), ("e", "w"), ("ew", "est"))
        // tSpread: the 6-step replace chain per token dominates (r20
        // driver bench: 0.22× with spread + the BPE index work)
        tSpread(s, dir, "documents", "doc_id").select(col("doc_id"),
          aggregate(transform(tokens(col("text")),
            w => graft.operators.Bpe.subwordCount(w, merges)),
            lit(0), (acc, x) => acc + x).as("n_bpe_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tk
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(COALESCE(list_sum(list_transform(tk, w ->
             |    len(string_split_regex(trim(
             |      replace(replace(replace(replace(replace(replace(
             |        ' ' || regexp_replace(w, '(?s)(.)', '\1  ', 'g'),
             |        ' e  s ', ' es '), ' es  t ', ' est '), ' l  o ', ' lo '),
             |        ' lo  w ', ' low '), ' e  w ', ' ew '), ' ew  est ', ' ewest ')
             |    ), ' +')))), 0) AS INTEGER) AS n_bpe_tokens
             |FROM toks ORDER BY doc_id""".stripMargin)),

    // Vocabulary construction: corpus-wide token frequencies, top 50 by
    // (count desc, token) — the tokenizer-training / frequency-filter
    // primitive. Two-level hash aggregation (map-side combine absorbs the
    // per-doc fan-out) then a global top-k (TakeOrdered, no full sort).
    Q("text_vocab_topk", "text,W3",
      (s, dir) => t(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("token")).limit(50),
      Some("""SELECT token, count(*) AS n FROM (
             |  SELECT unnest(list_filter(string_split_regex(text, '\s+'),
             |                            x -> len(x) > 0)) AS token
             |  FROM documents)
             |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin)),
  )
}

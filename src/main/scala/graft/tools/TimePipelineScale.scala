package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Scaling-curve probe for the LLM-pipeline flagships — MinHash-LSH
  * near-dup detection and IVF ANN — at 1×/3×/10× the sf0.1 document
  * cardinality (SPARK_GRAFT_PIPE_BASE overrides the 1× size, default
  * 5000 ≈ sf0.1's documents table; SPARK_GRAFT_SCALES overrides "1,3,10").
  *
  * What the curve must prove (VERDICT r9 #5): candidate generation is the
  * scale risk of both designs — LSH banding and IVF cells exist precisely
  * so the candidate-PAIR count grows ~linearly with the corpus instead of
  * quadratically like all-pairs. The probe therefore records, per scale:
  * docs, LSH candidate pairs, verified near-dup pairs, and wall per stage;
  * embeddings, IVF probe-candidate rows, and fit/probe wall. Reading the
  * curve: candidates/docs (and cand rows/embedding) should stay ~flat.
  *
  * Corpus shape: 5 variants per template, each variant mutating ~10 % of
  * 120 hash-derived words — dense true near-dup structure at every scale,
  * deterministic (xxhash64 of ids, no RNG state). Embeddings are a
  * template base vector plus per-variant noise, so IVF cells carry real
  * cluster structure. Same operators as the oracled catalog queries
  * (md5Shingles / minhashMd5 / lshBandKeysMd5 / jaccardSets, IvfAnn).
  */
object TimePipelineScale {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session(32)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).repartition(4).count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val base = sys.env.getOrElse("SPARK_GRAFT_PIPE_BASE", "5000").toInt
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,3,10")
      .split(",").map(_.trim.toInt).toSeq
    val dims = 64

    /** Deterministic corpus: doc i belongs to template i/5; word w of a
      * variant is the template's word unless xxhash64(doc, w) picks it for
      * mutation (~10 %). */
    def corpus(n: Int): DataFrame = {
      val tid = (col("id") / 5).cast("long")
      val word = (salt: String, seed: org.apache.spark.sql.Column,
          i: org.apache.spark.sql.Column) =>
        concat(lit("w"), pmod(xxhash64(lit(salt), seed, i), lit(1000)).cast("string"))
      spark.range(n).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(119)), i =>
          when(pmod(xxhash64(col("id"), i), lit(10)) === 0,
            word("mut", col("id"), i))
            .otherwise(word("base", tid, i)))).as("text"),
        transform(sequence(lit(0), lit(dims - 1)), j =>
          pmod(xxhash64(lit("e"), tid, j), lit(1000)).cast("double") / 1000.0 +
            pmod(xxhash64(lit("n"), col("id"), j), lit(100)).cast("double") / 2000.0
        ).as("emb"))
    }

    // JIT/codegen warm-up at a tiny size
    locally {
      val d = corpus(200).cache(); d.count()
      d.select(col("doc_id"), md5Shingles(col("text"), 2).as("sh")).count()
      d.unpersist()
    }

    println(f"${"scale"}%-6s ${"docs"}%8s ${"shingle_s"}%10s ${"band_s"}%8s " +
      f"${"cand_pairs"}%11s ${"cand_s"}%8s ${"verified"}%9s ${"verify_s"}%9s " +
      f"${"ivf_fit_s"}%10s ${"ivf_cand"}%9s ${"probe_s"}%8s")
    for (sc <- scales) {
      val n = base * sc
      val docs = corpus(n).cache()
      docs.count()

      // ---- MinHash + LSH near-dup (the dedup_minhash_lsh shape) ----
      val sh = docs.select(col("doc_id"), md5Shingles(col("text"), 2).as("sh")).cache()
      val (_, shingleSec) = timed { sh.count() }
      val banded = sh.select(col("doc_id"),
          explode(lshBandKeysMd5(minhashMd5(col("sh"), 16), 8, 2)).as("bk"))
        .select(col("doc_id"), col("bk.band"), col("bk.key")).cache()
      val (_, bandSec) = timed { banded.count() }
      val candidates = banded.select(col("band"), col("key"), col("doc_id").as("a_id"))
        .join(banded.select(col("band"), col("key"), col("doc_id").as("b_id")),
          Seq("band", "key"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct().cache()
      val (candN, candSec) = timed { candidates.count() }
      val dim = sh.select(col("doc_id"), md5Prefix60(col("sh")).as("s6"))
      val verified = candidates
        .join(dim.select(col("doc_id").as("a_id"), col("s6").as("a_sh")), Seq("a_id"))
        .join(dim.select(col("doc_id").as("b_id"), col("s6").as("b_sh")), Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          jaccardSorted(col("a_sh"), col("b_sh")).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
      val (verN, verSec) = timed { verified.count() }

      // ---- IVF ANN (the sim_ann_ivf shape): fixed 64 cells, nprobe 4 —
      //      candidate rows per query ≈ corpus × nprobe/k, i.e. linear ----
      val emb = docs.select(col("doc_id"), col("emb"))
      val (index, fitSec) = timed {
        val ix = graft.ml.IvfAnn.build(emb, "emb", k = 64)
        ix.assigned.cache().count(); ix
      }
      val queries = emb.limit(50)
        .select(col("doc_id").as("q_id"), col("emb").as("q_emb"))
      val probed = graft.ml.IvfAnn.probe(index, queries, "q_id", "q_emb", nprobe = 4)
        .join(index.assigned.select(col("cluster"), col("doc_id"), col("emb")),
          Seq("cluster"))
      val (probeN, probeSec) = timed { probed.count() }

      println(f"$sc%-6d $n%8d $shingleSec%10.2f $bandSec%8.2f $candN%11d " +
        f"$candSec%8.2f $verN%9d $verSec%9.2f $fitSec%10.2f $probeN%9d $probeSec%8.2f")
      index.assigned.unpersist()
      candidates.unpersist(); banded.unpersist(); sh.unpersist(); docs.unpersist()
    }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only: the decontamination row at ~100× the sf0.1 corpus — the
  * measurement behind the r16 plan gate (r15 verdict #4): above the
  * corpus-stat floor the EXACT row must run the Bloom-prefiltered plan
  * (scan-side codegen'd sketch probe + exact verify join) instead of
  * hashing every corpus gram into the semi-join's build relation, with
  * IDENTICAL results. Writes a deterministic synthetic documents table
  * as parquet (so the Catalyst stat is a real file-size stat, like the
  * driver's testdata), runs `pipeline_contamination` both ways — the
  * default gate (bloom at this scale) vs the gate raised to MaxValue
  * (the semi-join control) — verifies identical output digests, prints
  * both walls, and greps each executed plan for the bloom probe.
  *
  * SPARK_GRAFT_CONTAM_DOCS overrides the corpus size (default 500000
  * ≈ 100× sf0.1's documents table). */
object TimeContamination {

  /** Spark byte-string config value → bytes (spec-pinned, r19): bare
    * numbers are bytes, the k/kb/m/mb/g/gb suffix family matches what
    * `spark.conf.get` hands back for size configs, case-insensitive,
    * and a negative value (broadcast disabled) passes through. Anything
    * else errors loudly — a diagnostic must not silently misread the
    * threshold it gates on. */
  private[graft] def parseByteString(raw: String): Long = {
    val s = raw.trim.toLowerCase
    val (digits, suffix) = s.span(c => c.isDigit || c == '-')
    val shift = suffix match {
      case "" | "b" => 0
      case "k" | "kb" => 10
      case "m" | "mb" => 20
      case "g" | "gb" => 30
      case other => sys.error(s"unhandled byte suffix: $other")
    }
    digits.toLong << shift
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session(32)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).repartition(4).count()

    val n = sys.env.getOrElse("SPARK_GRAFT_CONTAM_DOCS", "500000").toInt
    val dir = s"/tmp/graft_contam_$n"
    // ~40-word docs over a shared template pool so benchmark docs
    // (doc_id % 20 == 0) genuinely share 8-grams with corpus docs —
    // same shape as the catalog fixture, deterministic (xxhash64)
    val tid = (col("id") / 7).cast("long")
    // ~20 % per-doc word mutation: enough row diversity that parquet's
    // dictionary/RLE cannot compress the text column below the stat gate
    // at the 100× size, while template sharing keeps genuine 8-gram
    // contamination between benchmark (doc_id % 20 == 0) and corpus docs
    spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(39)), i =>
        when(pmod(xxhash64(col("id"), i), lit(5)) === 0,
          concat(lit("m"), pmod(xxhash64(lit("mut"), col("id"), i),
            lit(100000)).cast("string")))
          .otherwise(concat(lit("w"),
            pmod(xxhash64(tid, i), lit(500)).cast("string")))))
        .as("text"),
      concat(lit("src"), pmod(col("id"), lit(4)).cast("string")).as("source"),
      lit("en").as("lang"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // Peak BroadcastExchange dataSize in the EXECUTED plan (r17, r16
    // verdict #5's done-criterion asks for the broadcast bytes the bloom
    // path's prefilter probes replace): walk the adaptive plan's final
    // physical tree including query stages and reused exchanges.
    def peakBroadcastBytes(p: org.apache.spark.sql.execution.SparkPlan): Long = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
      var peak = 0L
      def walk(x: org.apache.spark.sql.execution.SparkPlan): Unit = {
        x match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: QueryStageExec => walk(s.plan)
          case r: ReusedExchangeExec => walk(r.child)
          case b: BroadcastExchangeExec =>
            peak = math.max(peak,
              b.metrics.get("dataSize").map(_.value).getOrElse(0L))
          case _ =>
        }
        x.children.foreach(walk)
      }
      walk(p)
      peak
    }
    // Join operators actually EXECUTED (r18, r17 verdict #3: the gate's
    // above-cliff side was arithmetic — pin what AQE really picks once
    // the broadcast hint is dropped): walk the final adaptive tree and
    // collect the physical join node names with their build/buffer side
    // row-count metric where one exists.
    def joinKinds(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      def walk(x: org.apache.spark.sql.execution.SparkPlan): Unit = {
        x match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: QueryStageExec => walk(s.plan)
          case r: ReusedExchangeExec => walk(r.child)
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
            out += j.getClass.getSimpleName
          case _ =>
        }
        x.children.foreach(walk)
      }
      walk(p)
      out.toSeq
    }
    // per-call knob overrides (r18: the global @volatile hooks became
    // contaminationPlan parameters — each leg passes its own values)
    def run(bloomMinStatBytes: Long =
              graft.queries.Pipeline.ContaminationBloomMinStatBytes,
            broadcastVerifyMaxStatBytes: Long =
              graft.queries.Pipeline.ContaminationBroadcastVerifyMaxStatBytes)
        : (Long, Long, Double, Boolean, Long, Seq[String]) = {
      val df = graft.queries.Pipeline.contaminationPlan(spark, dir,
        forceBloom = false, bloomMinStatBytes = bloomMinStatBytes,
        broadcastVerifyMaxStatBytes = broadcastVerifyMaxStatBytes)
      val plan = df.queryExecution.executedPlan.toString
      val bloomInPlan = plan.contains("GraftBloomMightContain") ||
        plan.toLowerCase.contains("might_contain")
      val adf = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(doc_id, n_shared_8grams))"))
      // collect(), not head(): head() runs a SEPARATE limit(1)
      // QueryExecution, leaving adf's own executed plan (where the
      // broadcast metrics live) never run
      val (agg, sec) = timed(adf.collect()(0))
      val bcast = peakBroadcastBytes(adf.queryExecution.executedPlan)
      val joins = joinKinds(adf.queryExecution.executedPlan)
      graft.queries.Pipeline.releaseRetainedCaches()
      (agg.getLong(0), agg.getLong(1), sec, bloomInPlan, bcast, joins)
    }

    val stat = graft.queries.Catalog.t(spark, dir, "documents")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    // benchmark-set cardinality (outside the timed sections): the verdict
    // asked for a PRODUCTION-sized eval suite — ~10M distinct grams
    val benchGrams = {
      val docs = graft.queries.Catalog.t(spark, dir, "documents")
      val tk = split(trim(col("text")), "\\s+")
      docs.filter(col("doc_id") % 20 === 0)
        .select(explode(when(size(tk) < 8, array(concat_ws(" ", tk)))
          .otherwise(transform(sequence(lit(0), size(tk) - 8),
            i => concat_ws(" ", slice(tk, i + 1, lit(8)))))).as("gram"))
        .select(countDistinct("gram")).head().getLong(0)
    }
    println(s"docs=$n corpusStat=${stat / (1 << 20)}MB benchGrams=$benchGrams " +
      s"gate=${graft.queries.Pipeline.ContaminationBloomMinStatBytes / (1 << 20)}MB")
    val (rB, dB, sB, pB, bB, jB) = run() // default gate → bloom plan at this scale
    println(f"bloom-gated:   rows=$rB%d digest=$dB%d wall=$sB%.1f s " +
      f"bloomInPlan=$pB%s peakBroadcast=${bB / (1 << 20)}%d MB joins=${jB.mkString("+")}%s")
    // forced semi-join control: gate raised per-call to MaxValue
    val (rE, dE, sE, pE, bE, jE) = run(bloomMinStatBytes = Long.MaxValue)
    println(f"semi-join ctl: rows=$rE%d digest=$dE%d wall=$sE%.1f s " +
      f"bloomInPlan=$pE%s peakBroadcast=${bE / (1 << 20)}%d MB joins=${jE.mkString("+")}%s")
    // third leg: the ABOVE-CLIFF plan — bloom prefilter with the broadcast
    // hint DROPPED (ContaminationBroadcastVerifyMaxStatBytes scaladoc),
    // forced by zeroing the ceiling per-call; AQE picks the verify join
    // from runtime sizes, and the executed join kind is printed + pinned
    val (rS, dS, sS, pS, bS, jS) = run(broadcastVerifyMaxStatBytes = 0L)
    println(f"above-cliff:   rows=$rS%d digest=$dS%d wall=$sS%.1f s " +
      f"bloomInPlan=$pS%s peakBroadcast=${bS / (1 << 20)}%d MB joins=${jS.mkString("+")}%s")
    require(rB == rE && dB == dE, "bloom plan diverged from the semi-join")
    require(rS == rE && dS == dE, "above-cliff verify diverged from the semi-join")
    // The default-gate leg only builds the bloom when the corpus stat
    // exceeds the gate — below it the leg IS the semi-join plan and the
    // plan-switch assertion is vacuous (r19: same sub-cliff genre as the
    // r18 ADVICE broadcast finding — a 100k-doc run falsely failed here).
    if (stat >= graft.queries.Pipeline.ContaminationBloomMinStatBytes)
      require(pB && !pE, "plan-shape check failed: the gate did not switch plans")
    else
      println(s"bloom plan-switch check SKIPPED: corpusStat " +
        s"(${stat / (1 << 20)} MB) under the bloom gate - digest parity " +
        "still enforced")
    require(!pE, "semi-join control unexpectedly built a bloom")
    // the hint really dropped: the below-cliff leg's verify join is a
    // BroadcastHashJoin; above the cliff it must not be (AQE chose a
    // shuffle join for the GB-scale relation). Assumes corpusStat under
    // the verify ceiling (the tool's documented protocol range) — leg 1
    // drops its own hint past that.
    require(jB.exists(_.startsWith("BroadcastHashJoin")),
      s"below-cliff leg lost its broadcast verify join: $jB")
    // With the hint dropped, AQE still broadcasts any relation under
    // autoBroadcastJoinThreshold from runtime sizes — the no-broadcast
    // assertion is only meaningful when the verify relation (measured on
    // the hinted leg) actually exceeds that threshold (r18 ADVICE: the
    // unconditional require falsely failed on sub-cliff corpora).
    val aqeBcastBytes = parseByteString(
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    // UNITS (r19, found by the sub-cliff live run): the hinted leg's
    // peakBroadcast is BroadcastExchange's dataSize metric — UNCOMPRESSED
    // in-memory bytes — while AQE's runtime demotion-to-broadcast decides
    // on the build stage's COMPRESSED shuffle bytes. A 39 MB dataSize
    // relation can compress under a 10 MB threshold and AQE will
    // legitimately re-broadcast the un-hinted join. Only assert the
    // no-broadcast shape when the hinted relation exceeds the threshold
    // by an order of magnitude (no shuffle codec gets 8× on this data;
    // the production 6M-doc protocol sits at 180×). A negative threshold
    // disables broadcasts outright, so the assertion always applies.
    if (aqeBcastBytes < 0L || bB > 8L * aqeBcastBytes) {
      require(bS < bB,
        "above-cliff verify should not build the broadcast relation")
      require(jS.nonEmpty && !jS.exists(_.startsWith("BroadcastHashJoin")),
        s"above-cliff leg still broadcasts: $jS")
    } else
      println(s"above-cliff join-shape check SKIPPED: hinted relation " +
        s"(${bB / (1 << 20)} MB uncompressed) within compression reach of " +
        s"AQE's broadcast threshold (${aqeBcastBytes / (1 << 20)} MB) - " +
        "corpus below cliff scale; digest parity still enforced")
    spark.stop()
  }
}

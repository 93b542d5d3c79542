package graft

import graft.core.Steal.{clean, stealTicks, timeWithSteal}
import graft.pipeline.GraftSession

/** Driver benchmark: times every SparkEntry query on SPARK_GRAFT_SF_DIR at
  * local[SPARK_GRAFT_CPUS]; prints ONE JSON line. Headline extra:
  * extraction throughput (pages/sec) over the FIXED 160k-page benchmark
  * corpus ([[graft.tools.BenchCorpus]] — shared with ScalingBench, so the
  * headline and the scaling legs are directly comparable and independent
  * of the sf dir).
  *
  * Noise handling: this sandbox shows intermittent host CPU-steal windows
  * (identical sub-second queries occasionally take 30+ s), so every query
  * is timed twice and the minimum over steal-clean runs reported; the
  * headline extraction runs 3 times plus up to 6 backoff retries (20 s
  * apart) when a sustained storm contaminates every attempt. The JSON
  * carries the host steal-tick delta observed during the run for
  * transparency. Scaling evidence (N vs 4N) lives in
  * graft.tools.ScalingBench → BENCH.md.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    val steal0 = stealTicks()

    // JVM/codegen warmup on the small sf so per-query numbers are not
    // first-query-pays-startup noise. Best-effort: a missing warmup sf
    // must not abort the run before the ONE-JSON-line contract is met.
    try {
      SparkEntry.entry(spark).count()
      // materialize + cache the pages corpus for this sf up front: corpus
      // synthesis is not part of the measured system (production reads a
      // pages table), so no single x_ query should be billed its one-time
      // generation cost
      graft.queries.ExtractionQueries.pagesDs(spark, sfDir).count()
      ()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] warmup failed (continuing): ${e.getMessage}")
    }

    // Per-query: best of 2, plus up to 2 retries when BOTH runs were
    // steal-contaminated; a global retry budget bounds the worst case of a
    // sustained storm (the driver runs this unattended). Each query reports
    // (best sec, clean flag): clean=false marks the number as taken from
    // storm-contaminated windows only — machine-readably noise, not a
    // regression (VERDICT r3 #2).
    var retryBudget = 64
    val results: Seq[(String, (Double, Boolean))] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t = try {
        val runs = scala.collection.mutable.ArrayBuffer(
          timeWithSteal(fn(spark, sfDir).count()),
          timeWithSteal(fn(spark, sfDir).count()))
        var extra = 0
        while (!runs.exists(clean) && extra < 2 && retryBudget > 0) {
          runs += timeWithSteal(fn(spark, sfDir).count())
          extra += 1
          retryBudget -= 1
        }
        val anyClean = runs.exists(clean)
        val usable = if (anyClean) runs.filter(clean) else runs
        (usable.map(_._1).min, anyClean)
        // NonFatal only: after an OOM/stack overflow the JVM's timings are
        // garbage — let fatal errors abort rather than emit poisoned numbers
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        (-1.0, false)
      }
      name -> t
    }

    // headline: pure extraction throughput (pages/sec) — a fresh kernel
    // pipeline over a materialized pages table (the production shape:
    // parquet scan → kernel; synthetic-corpus generation excluded, it is
    // not part of the measured system), NOT the cached x_* results.
    // Fixed 160k pages regardless of sf: short 20k-page windows (<1 s)
    // showed 4-5x variance from ambient host contention that steal ticks
    // don't capture; 160k amortizes it AND shares ScalingBench's cached
    // corpus dir, so the headline is directly comparable to the scaling
    // legs. SPARK_GRAFT_BENCH_PAGES is a local smoke-test knob only — the
    // driver sets no such env, so its runs stay at the comparable 160k.
    val nPages = sys.env.get("SPARK_GRAFT_BENCH_PAGES").map(_.toInt).getOrElse(160000)
    // headline: wrapped so a failure here cannot discard the per-query
    // timings already collected — the ONE JSON line always prints
    val headline: Option[(Double, Boolean)] =
      try {
        val corpusDir = graft.tools.BenchCorpus.ensure(spark, nPages)
        // fresh session for the headline: the query-loop session carries 70+
        // queries' worth of cached corpus, broadcasts and old-gen pressure,
        // which measured 2.5x slower than ScalingBench's fresh sessions on
        // the identical job — the headline should measure the kernel, not
        // this process's accumulated heap state
        spark.stop()
        val spark2 = GraftSession.local(cpus)
        def freshExtract(): Long = {
          import spark2.implicits._
          val pages = spark2.read.parquet(corpusDir).as[graft.model.Page]
          graft.pipeline.ExtractKernel.extract(pages, graft.model.ConversionOptions())(spark2)
            .where("status = 'completed'").count()
        }
        freshExtract() // warm
        val extractRuns = scala.collection.mutable.ArrayBuffer(
          (0 until 3).map(_ => timeWithSteal(freshExtract())): _*)
        var extractExtra = 0
        // storms here last minutes, not seconds: back off between retries so
        // a sustained window doesn't contaminate every attempt of an
        // unattended driver run (bounded: 6 retries x 20 s sleep)
        while (!extractRuns.exists(clean) && extractExtra < 6) {
          Thread.sleep(20000)
          extractRuns += timeWithSteal(freshExtract())
          extractExtra += 1
        }
        spark2.stop()
        // steal_quiet: whether the accepted measurement came from a
        // steal-clean window. When false (sustained storm outlasted all 6
        // backoff retries) the number is host noise, not engine speed.
        val hc = extractRuns.exists(clean)
        Some(((if (hc) extractRuns.filter(clean) else extractRuns).map(_._1).min, hc))
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] headline failed: ${e.getMessage}")
        None
      }
    // the accepted clean best from BENCH.md methodology, read from the
    // committed baseline resource (bench-clean-best.txt — updated together
    // with BENCH.md's accepted-bests table, so a stale hardcoded constant
    // can't mis-describe a future clean run; VERDICT r3 #4), with an env
    // escape hatch for ad-hoc comparisons. steal_quiet only certifies
    // the steal counter was quiet — co-tenant MEMORY-BANDWIDTH contention
    // doesn't tick steal and has measured 4-5x swings on this host; the
    // explicit ratio vs the clean best makes a depressed-but-steal-quiet
    // run self-describing.
    // TOTAL by construction — this runs AFTER the whole bench, and the
    // one-JSON-line driver contract must survive a malformed env value, a
    // missing/comment-only resource, or a zero entry (ratio -> -1 sentinel
    // instead of a crash or an "Infinity" that breaks JSON parsing)
    val cleanBestPrior: Double = {
      def warn(what: String): Option[Double] = { System.err.println(s"[bench] $what"); None }
      val fromEnv = sys.env.get("SPARK_GRAFT_CLEAN_BEST").flatMap(s =>
        s.toDoubleOption.orElse(warn(s"ignoring unparseable SPARK_GRAFT_CLEAN_BEST='$s'")))
      def fromResource: Option[Double] =
        try {
          val in = getClass.getResourceAsStream("/graft/bench-clean-best.txt")
          if (in == null) warn("bench-clean-best.txt missing from classpath")
          // explicit charset: the driver may fork the JVM under a POSIX
          // locale whose default (ASCII) decoder rejects any non-ASCII byte
          else try scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8).getLines()
            .map(_.trim).find(l => l.nonEmpty && !l.startsWith("#")).flatMap(_.toDoubleOption)
            .orElse(warn("bench-clean-best.txt has no parseable number line"))
          finally in.close()
        } catch { case scala.util.control.NonFatal(e) =>
          warn(s"bench-clean-best.txt unreadable: ${e.getMessage}")
        }
      fromEnv.orElse(fromResource).filter(_ > 0).getOrElse(-1.0)
    }
    val (extractSec, stealQuiet) = headline.getOrElse((-1.0, false))
    val pagesPerSec = if (extractSec > 0) nPages / extractSec else -1.0
    val vsCleanBest =
      if (pagesPerSec > 0 && cleanBestPrior > 0) pagesPerSec / cleanBestPrior else -1.0
    // headline_valid (VERDICT r4 #4): steal_quiet alone mislabels a
    // 20x-depressed run as "clean" — steal ticks don't see co-tenant
    // memory-bandwidth contention. Valid = the steal counter was quiet AND
    // the number lands within 85% of the methodology-accepted clean best;
    // anything else is host noise, machine-readably so.
    val headlineValid = stealQuiet && vsCleanBest >= 0.85
    val stealDelta = stealTicks() - steal0

    // Locale.ROOT formatting (the default-locale f"" interpolator would
    // emit decimal COMMAS under e.g. de_DE and malform the JSON line) and
    // escaped strings (a quote/backslash in sfDir must not break parsing)
    def num(d: Double, prec: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(d))
    def esc(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => String.format(java.util.Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c => c.toString
    } + "\""
    // VERDICT r4 #5: the driver's artifact capture keeps only the LAST
    // 2000 chars of stdout (BENCH_r04's tail starts mid-line and includes
    // ~85 chars of sbt epilogue), so a name-keyed map over ~90 queries
    // (~2 KB alone) can NEVER survive it. The line is therefore compacted
    // to fit whole (≤ ~1900 chars) so the driver's JSON parse succeeds
    // end-to-end:
    //  - "q_ms": integer-millisecond timings for EVERY query, as an array
    //    aligned to the SORTED query-name order (the same order as the
    //    CORRECTNESS_r{N}.json keys; results is already name-sorted).
    //    -1 = query failed.
    //  - "q_clean": one char per query in the same order — '1' clean
    //    window, '0' every window steal-contaminated (host noise, not a
    //    regression), 'x' failed (a queries_failed fact, kept distinct
    //    from a storm fact).
    //  - "q_names_crc": CRC32 of the sorted names joined with ',' so a
    //    reader can verify its name list aligns.
    //  - "queries": the contract-shaped name->seconds map, kept for the
    //    25 SLOWEST queries only (the round-over-round comparison set);
    //    the full fidelity lives in q_ms.
    val ok = results.map(_._2._1).filter(_ >= 0)
    val total = ok.sum
    val failed = results.size - ok.size
    val qMs = results.map { case (_, (v, _)) =>
      if (v < 0) "-1" else math.round(v * 1000).toString
    }.mkString("[", ",", "]")
    val qClean = results.map { case (_, (v, c)) =>
      if (v < 0) 'x' else if (c) '1' else '0'
    }.mkString
    val crc = new java.util.zip.CRC32
    crc.update(results.map(_._1).mkString(",").getBytes("UTF-8"))
    val namesCrc = String.format(java.util.Locale.ROOT, "%08x", Long.box(crc.getValue))
    val qs = results.filter(_._2._1 >= 0).sortBy(-_._2._1).take(25)
      .sortBy(_._1)
      .map { case (k, (v, _)) => esc(k) + ":" + num(v, 3) }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","queries_failed":$failed,"sf":${esc(sfDir)},"extract_pages":$nPages,"extract_sec":${num(extractSec, 3)},"extract_pages_per_sec":${num(pagesPerSec, 1)},"steal_quiet":$stealQuiet,"headline_valid":$headlineValid,"clean_best_prior_pages_per_sec":${num(cleanBestPrior, 1)},"headline_vs_clean_best":${num(vsCleanBest, 3)},"cpus":$cpus,"host_steal_ticks":$stealDelta,"q_names_crc":"$namesCrc","q_clean":"$qClean","q_ms":$qMs,"queries":$qs}""")
  }
}

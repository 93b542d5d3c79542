package graft.tools

import graft.model.{ConversionOptions, Page}
import graft.pipeline.{ExtractKernel, GraftSession}

/** Two-cluster-size scaling evidence (north rule: throughput scaling
  * efficiency ≥ 0.8 from N to 4N executors; no real cluster in this
  * sandbox, so per driver instruction: the identical job at local[N] and
  * local[4N] on the same input — reported in BENCH.md).
  *
  * The measured job is the production shape: parquet scan of a pages table
  * (pre-materialized once; Common-Crawl-style inputs come from a table, so
  * synthetic-corpus generation cost is excluded from the measurement) →
  * typed extraction kernel → count of completed rows. No payload shuffle
  * (see ExtractJob's shuffle note).
  *
  * Usage: sbt "runMain graft.tools.ScalingBench [nPages] [smallCores]"
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val nPages = args.headOption.map(_.toInt).getOrElse(160000)
    val nSmall = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val nBig = nSmall * 4
    // materialize the corpus once (not timed) — shared with Bench's
    // extraction headline via BenchCorpus so the numbers are comparable
    val corpusDir =
      if (BenchCorpus.exists(nPages)) BenchCorpus.dirFor(nPages)
      else {
        val spark = GraftSession.local(nBig)
        try BenchCorpus.ensure(spark, nPages)
        finally spark.stop()
      }

    def extractCount(spark: org.apache.spark.sql.SparkSession): Long = {
      import spark.implicits._
      val pages = spark.read.parquet(corpusDir).as[Page]
      ExtractKernel.extract(pages, ConversionOptions())(spark)
        .where("status = 'completed'").count()
    }

    /** One timed pass in a fresh session for `cores` (with an in-session
      * warmup run first). The sandbox suffers intermittent host CPU-steal
      * windows (identical work varies 10x for ~30s periods — /proc/stat
      * steal confirms), so reps of the two levels are INTERLEAVED and the
      * min per level taken: a steal window then cannot sink one level only,
      * and min approximates the uncontended steady state. Timing + clean
      * predicate come from the SHARED graft.core.Steal so the definition
      * cannot fork from Bench's. */
    def measureOnce(cores: Int): (Double, Long) = {
      val spark = GraftSession.local(cores)
      try {
        extractCount(spark) // in-session warmup (codegen/JIT), discarded
        graft.core.Steal.timeWithSteal(require(extractCount(spark) > 0))
      } finally spark.stop()
    }

    // A rep whose timed window saw heavy steal is discarded up front (the
    // min across reps already rejects most contamination, but a fully
    // stolen session wastes a rep slot; retry up to 3x per level per rep).
    def measureClean(cores: Int): (Double, Long) = {
      var last = measureOnce(cores)
      var tries = 1
      while (!graft.core.Steal.clean(last) && tries < 3) {
        println(f"  retry cores=$cores: ${last._1}%.2fs saw steal=${last._2} ticks")
        last = measureOnce(cores)
        tries += 1
      }
      last
    }

    val nReps = 6
    val reps = (0 until nReps).map { r =>
      val ma @ (a, sa) = measureClean(nSmall)
      val mb @ (b, sb) = measureClean(nBig)
      val ok = graft.core.Steal.clean(ma) && graft.core.Steal.clean(mb)
      println(f"rep=$r secN=$a%.2f (steal $sa) sec4N=$b%.2f (steal $sb) pairEff=${(a / b) / 4.0}%.3f clean=$ok")
      (a, b, ok)
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // VERDICT r4 #6: min-of-clean per leg makes the ratio hostage to one
    // pristine narrow-leg window (ambient memory-bandwidth contention
    // doesn't tick steal, so "clean" legs still vary ~15%). Report THREE
    // estimators, every one over BOTH-LEGS-CLEAN reps only (a sustained
    // storm that outlasts measureClean's retries must not enter a median):
    //  - efficiency: legacy min-per-leg (comparable to prior rounds);
    //  - efficiency_median: median-per-leg — robust to one lucky window;
    //  - efficiency_paired_median: median of per-rep ratios — each rep's
    //    legs ran back-to-back inside the same ambient-contention regime,
    //    so slow-drifting co-tenant load cancels instead of skewing one
    //    leg. This is the headline estimator for BENCH.md acceptance.
    val nClean = reps.count(_._3)
    // all-storm session: fall back to all reps, flagged by clean_reps=0
    val stealClean = if (nClean > 0) reps.filter(_._3) else reps
    // Relative outlier cut: the steal budget scales with the window
    // (~1 stolen core average), so a leg that ran 20x long under
    // memory-bandwidth contention can still rate "steal-clean" — drop
    // reps where either leg exceeds 1.5x that leg's own session minimum
    // (self-referential, no external constant; the dropped count is
    // visible as clean_reps vs reps in the JSON + per-rep lines above).
    val minA = stealClean.map(_._1).min
    val minB = stealClean.map(_._2).min
    val cleanReps = {
      val kept = stealClean.filter { case (a, b, _) => a <= 1.5 * minA && b <= 1.5 * minB }
      if (kept.nonEmpty) kept else stealClean
    }
    val secN = cleanReps.map(_._1).min
    val sec4N = cleanReps.map(_._2).min
    val thrN = nPages / secN
    val thr4N = nPages / sec4N
    val effMin = (thr4N / thrN) / 4.0
    val effMed = (median(cleanReps.map(_._1)) / median(cleanReps.map(_._2))) / 4.0
    val effPaired = median(cleanReps.map { case (a, b, _) => (a / b) / 4.0 })
    println(f"""{"scaling":{"n_pages":$nPages,"cores_n":$nSmall,"sec_n":$secN%.2f,"pages_per_sec_n":$thrN%.1f,"cores_4n":$nBig,"sec_4n":$sec4N%.2f,"pages_per_sec_4n":$thr4N%.1f,"efficiency":$effMin%.3f,"efficiency_median":$effMed%.3f,"efficiency_paired_median":$effPaired%.3f,"reps":$nReps,"clean_reps":$nClean,"kept_reps":${cleanReps.size}}}""")
  }
}

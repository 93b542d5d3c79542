package graft.perfbench

import graft.core.Steal
import graft.pipeline.GraftSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The benchmark's JVM side: one workload, one closed loop at `local[4]`.
  * One driver thread issues the next cycle only after the previous one
  * returned. Prints a diagnostic JSON line, then `RESULT <json>` with the
  * contract's result object; `perfbench/run.py` relays that as its last
  * line.
  *
  * Usage: Main --workload crawl_extract|recrawl --seed N --seconds S
  *        --trace 0|1 --work DIR --launch-ms EPOCH_MS [--smoke] [--fault]
  *        [--spans FILE] */
object Main {

  val Cores = 4

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path,
      launchMs: Long, smoke: Boolean, fault: Boolean, spans: Option[Path])

  def parse(args: Array[String]): Opts = {
    def value(k: String): Option[String] = args.indexOf(k) match {
      case -1 => None
      case i => args.lift(i + 1)
    }
    def need(k: String) = value(k).getOrElse(throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")).toAbsolutePath,
      value("--launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      args.contains("--smoke"), args.contains("--fault"),
      value("--spans").map(Paths.get(_).toAbsolutePath))
  }

  /** Every metric the benchmark can print, with its unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "extract_pages_per_s" -> "pages/s", "write_s" -> "s", "read_s" -> "s",
    "setup_s" -> "s", "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s",
    "kernel.scan_extract_s" -> "s", "kernel.docs_per_s_1t" -> "docs/s",
    "kernel.p50_us" -> "us", "kernel.p99_us" -> "us") ++
    KernelProbe.Types.map(t => s"kernel.us_per_doc.$t" -> "us") ++ Seq(
    "kernel.parallel_eff" -> "ratio",
    "job.wave0_s" -> "s", "job.wave_s_p50" -> "s", "job.commit_s" -> "s",
    "job.overhead_frac" -> "ratio", "job.useful_frac" -> "ratio",
    "table.read_s" -> "s", "table.read_latest_s" -> "s", "table.retire_s" -> "s",
    "recrawl.diff_s" -> "s", "recrawl.delta_pages" -> "count", "wet.export_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "trace.coverage_frac" -> "ratio", "trace.overhead_frac" -> "ratio",
    "failed_frac" -> "ratio", "host.steal_ticks" -> "count")

  /** Pages per workload input: the smoke size, or the measured size. A
    * cycle's cost is mostly fixed orchestration, so these sizes keep a run
    * within its time budget rather than scale the work. */
  private def pagesFor(o: Opts): Int =
    if (o.smoke) 160 else if (o.workload == "crawl_extract") 4000 else 3000

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val spark = GraftSession.local(Cores)
    try run(o, spark)
    finally spark.stop()
  }

  private def run(o: Opts, spark: org.apache.spark.sql.SparkSession): Unit = {
    val sessionS = (System.currentTimeMillis() - o.launchMs) / 1e3
    val counters = new SparkCounters(spark.sparkContext)
    val n = pagesFor(o)
    val wl: Workload = o.workload match {
      case "crawl_extract" => new CrawlExtract(spark, o.seed, o.work, n)
      case "recrawl" => new RecrawlLoop(spark, o.seed, o.work, n)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // input set-up, several times; the last one's inputs are measured
    val reps = if (o.smoke) 1 else 3
    val repS = (0 until reps).map { r =>
      val t0 = System.nanoTime()
      wl.materialize(o.work.resolve(s"setup-$r"))
      val s = Stats.secondsSince(t0)
      if (r > 0) Fs.deleteTree(o.work.resolve(s"setup-${r - 1}"))
      s
    }
    val tPrep = System.nanoTime()
    wl.prepare()
    val prepareS = Stats.secondsSince(tPrep)
    if (o.fault) wl.plantFault()

    var attempted = 0L
    var failed = 0L
    val errors = ArrayBuffer.empty[String]
    var index = 0
    /** One cycle; a cycle that throws counts as one failed operation. */
    def cycle(ctx: Option[Ctx]): Option[Cycle] = {
      index += 1
      try {
        val c = wl.cycle(index, ctx)
        attempted += c.attempted
        failed += c.failed
        Some(c)
      } catch {
        case NonFatal(e) =>
          errors += s"${e.getClass.getName}: ${e.getMessage}"
          attempted += 1
          failed += 1
          None
      }
    }

    val tWarm = System.nanoTime()
    cycle(None) // JIT warm-up
    val warmS = Stats.secondsSince(tWarm)
    val setupS = sessionS + Stats.median(repS) + prepareS + warmS

    val tracer = new Tracer
    val kernel =
      if (o.trace) Some(KernelProbe.run(wl.kernelSample, wl.options, passes = if (o.smoke) 1 else 2))
      else None

    val plain = ArrayBuffer.empty[Cycle]
    val plainTotals = ArrayBuffer.empty[SparkTotals]
    val traced = ArrayBuffer.empty[(Cycle, Span)]
    val probes = ArrayBuffer.empty[Map[String, Double]]
    val minEach = if (o.smoke || o.trace) 1 else wl.MinCycles
    val steal0 = Steal.stealTicks()
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    counters.take()
    var turn = 0
    def done = System.nanoTime() >= deadline && plain.size >= minEach &&
      (!o.trace || traced.size >= minEach)
    while (!done && errors.size < 3) {
      if (o.trace && turn % 2 == 1) {
        val id = turn
        val p = tracer.root(id)("probes")(wl.probes)
        counters.take()
        val c = tracer.root(id)("cycle")(ctx => cycle(Some(ctx)))
        counters.take()
        c.foreach { x =>
          probes += p
          traced += ((x, tracer.all.find(s => s.trace == id && s.name == "cycle").get))
        }
      } else {
        cycle(None).foreach { c => plain += c; plainTotals += counters.take() }
      }
      turn += 1
    }
    val stealTicks = Steal.stealTicks() - steal0

    def med(xs: Iterable[Double]) = Stats.median(xs.toSeq)
    val pagesPerS = med(plain.map(c => c.committed / c.extractS))
    val metrics: Map[String, Double] =
      if (!o.trace) Map(
        "extract_pages_per_s" -> pagesPerS,
        "write_s" -> med(plain.map(_.writeS)),
        "read_s" -> med(plain.flatMap(_.readS)),
        "setup_s" -> setupS,
        "peak_rss_mb" -> peakRssMb())
      else {
        val k = kernel.get
        val spans = tracer.all
        def spanMed(name: String) = {
          val xs = spans.filter(_.name == name).map(_.seconds)
          if (xs.isEmpty) 0.0 else med(xs)
        }
        def probeMed(name: String) = med(probes.map(_.getOrElse(name, 0.0)))
        def totalsMed(f: SparkTotals => Double) = med(plainTotals.map(f))
        val plainWall = med(plain.map(c => c.writeS + c.readS.sum))
        val tracedWall = med(traced.map { case (c, _) => c.writeS + c.readS.sum })
        Map(
          "sources.scan_s" -> probeMed("sources.scan_s"),
          "kernel.scan_extract_s" -> probeMed("kernel.scan_extract_s"),
          "kernel.docs_per_s_1t" -> k.docsPerS,
          "kernel.p50_us" -> k.p50Us,
          "kernel.p99_us" -> k.p99Us,
          "kernel.parallel_eff" -> pagesPerS / (Cores * k.docsPerS),
          "job.wave0_s" -> spanMed("job.wave0"),
          "job.wave_s_p50" -> {
            val later = spans.filter(s => s.name.startsWith("job.wave") && s.name != "job.wave0")
            if (later.isEmpty) 0.0 else med(later.map(_.seconds))
          },
          "job.commit_s" -> spanMed("job.commit"),
          "job.overhead_frac" -> (1.0 - probeMed("kernel.scan_extract_s") / spanMed("job.run")),
          "job.useful_frac" -> med(traced.map { case (c, _) => c.committed.toDouble / c.needed }),
          "table.read_s" -> spanMed("table.read"),
          "table.read_latest_s" -> spanMed("table.read_latest"),
          "table.retire_s" -> spanMed("table.retire"),
          "recrawl.diff_s" -> probeMed("recrawl.diff_s"),
          "recrawl.delta_pages" -> probeMed("recrawl.delta_pages"),
          "wet.export_s" -> spanMed("wet.export"),
          "spark.jobs" -> totalsMed(_.jobs.toDouble),
          "spark.stages" -> totalsMed(_.stages.toDouble),
          "spark.tasks" -> totalsMed(_.tasks.toDouble),
          "spark.shuffle_write_bytes" -> totalsMed(_.shuffleWriteBytes.toDouble),
          "spark.spill_bytes" -> totalsMed(_.spillBytes.toDouble),
          "spark.output_bytes" -> totalsMed(_.outputBytes.toDouble),
          "spark.executor_cpu_s" -> totalsMed(_.executorCpuNs / 1e9),
          "spark.gc_s" -> totalsMed(_.gcMs / 1e3),
          "trace.coverage_frac" -> med(traced.map { case (_, s) => tracer.leafCoverage(s) }),
          "trace.overhead_frac" -> (tracedWall / plainWall - 1.0),
          "failed_frac" -> failed.toDouble / math.max(attempted, 1L),
          "host.steal_ticks" -> stealTicks.toDouble,
        ) ++ k.usPerDoc.map { case (t, us) => s"kernel.us_per_doc.$t" -> us }
      }

    o.spans.foreach(tracer.writeTo)
    val units = (EndToEnd ++ PerLayer).toMap
    println("DIAG " + Stats.json(Map(
      "workload" -> o.workload, "seed" -> o.seed, "pages" -> n, "trace" -> o.trace,
      "master" -> s"local[$Cores]", "session_s" -> sessionS, "setup_reps_s" -> repS,
      "prepare_s" -> prepareS, "warmup_s" -> warmS,
      "untraced_cycles" -> plain.size, "traced_cycles" -> traced.size,
      "write_s" -> plain.map(_.writeS).toSeq, "read_s" -> plain.flatMap(_.readS).toSeq,
      "host_steal_ticks" -> stealTicks, "errors" -> errors.toSeq)))
    println("RESULT " + Stats.json(Map(
      "correct" -> (failed == 0 && errors.isEmpty),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) })))
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

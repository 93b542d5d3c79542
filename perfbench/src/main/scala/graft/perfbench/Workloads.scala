package graft.perfbench

import graft.gen.{CorpusGen, WarcGen}
import graft.model.{ConversionOptions, OutputFormat, Page}
import graft.pipeline.{ExtractJob, ExtractKernel, Recrawl, WetExport}
import graft.sources.WarcSource
import graft.table.LineageTable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.collection.parallel.CollectionConverters._

/** What one closed-loop cycle produced. `writeS` is its write part and
  * `readS` holds one time per repeat of its read part. `ExtractJob.run`
  * committed `committed` rows in `extractS` seconds, of the `needed`
  * deduped pages it was handed. `attempted` counts the rows checked and
  * `failed` the wrong ones. */
final case class Cycle(
    writeS: Double, readS: Seq[Double], extractS: Double, committed: Long, needed: Long,
    attempted: Long, failed: Long)

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { x =>
      val target = to.resolve(from.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(target) else Files.copy(x, target)
    } finally s.close()
  }
}

/** A benchmark workload. Set-up is `materialize`, which writes the inputs
  * under a fresh directory and is repeated to time it, then `prepare`,
  * which runs once on the last inputs. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: Path) {
  /** Pages in the single-thread kernel sample. */
  protected val SampleSize = 1500
  /** Each cycle repeats its read part this often: reads are short, so
    * repeats give the run more samples of them. */
  protected val ReadRepeats: Int
  /** Untraced cycles a run measures at least. */
  val MinCycles: Int

  def materialize(dir: Path): Unit
  def prepare(): Unit
  def kernelSample: Seq[Page]
  def options: ConversionOptions

  /** One production cycle. Traced (`ctx` set), each layer call is a span
    * and the `afterWave` hook records the job's wave marks. */
  def cycle(index: Int, ctx: Option[Ctx]): Cycle

  /** Layer probes of a traced cycle, timed apart from the production path:
    * each value is a time in seconds or a count. */
  def probes(ctx: Ctx): Map[String, Double]

  /** Planted wrong output for the benchmark's own fault test. */
  def plantFault(): Unit

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run `ExtractJob.run` (or the equivalent body of `Recrawl.run`),
    * recording wave marks when traced. */
  protected def runJob(pages: Dataset[Page], cfg: ExtractJob.Config, ctx: Option[Ctx]): Unit = {
    val hooks = ArrayBuffer.empty[Long]
    val start = System.nanoTime()
    ctx match {
      case None => ExtractJob.run(spark, pages, cfg)
      case Some(_) => ExtractJob.run(spark, pages, cfg, _ => hooks += System.nanoTime())
    }
    val end = System.nanoTime()
    ctx.foreach { c =>
      val job = c.tracer.record(c.trace, c.parent, "job.run", start, end)
      val bounds = start +: hooks.toSeq
      bounds.zip(hooks).zipWithIndex.foreach { case ((a, b), i) =>
        c.tracer.record(c.trace, job, s"job.wave$i", a, b)
      }
      c.tracer.record(c.trace, job, "job.commit", bounds.last, end)
    }
  }

  protected def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Latest capture per url, the input `WindowDedup` leaves. */
  protected def latestPerUrl(pages: Seq[Page]): Seq[Page] =
    pages.groupBy(_.url).values.map(_.maxBy(_.warc_ts.getTime)).toSeq.sortBy(_.url)

  /** `f` as span `name` when traced; `f` gets the span's context. */
  protected def layer[T](ctx: Option[Ctx], name: String)(f: Option[Ctx] => T): T =
    ctx match {
      case None => f(None)
      case Some(c) => c(name)(child => f(Some(child)))
    }

  /** Time a probe as span `name`; returns its seconds. */
  protected def probe(ctx: Ctx, name: String)(f: => Unit): Double = {
    val t0 = System.nanoTime()
    ctx(name)(_ => f)
    (System.nanoTime() - t0) / 1e9
  }

  /** The read part, `ReadRepeats` times: its times and the summed result. */
  protected def reads(f: Int => Long): (Seq[Double], Long) = {
    val rs = (1 to ReadRepeats).map { i =>
      val t0 = System.nanoTime()
      val failed = f(i)
      ((System.nanoTime() - t0) / 1e9, failed)
    }
    (rs.map(_._1), rs.map(_._2).sum)
  }
}

/** `crawl_extract`: `ExtractJob.run` with default options and
  * `WindowDedup` over a parquet pages table of `CorpusGen.pages(n, seed)`,
  * 8 buckets in 2 waves, then a read-back of the committed snapshot
  * checked row by row against `ExtractKernel.extractOne` over the same
  * deduped pages. */
final class CrawlExtract(spark: SparkSession, seed: Long, work: Path, n: Int)
    extends Workload(spark, seed, work) {
  import spark.implicits._

  val options: ConversionOptions = ConversionOptions()
  protected val ReadRepeats = 4
  val MinCycles = 2
  /** 8 buckets in two waves: staging and a later wave run. */
  private val NumBuckets = 8
  private var pages: Seq[Page] = Seq.empty
  private var pagesDir: Path = _
  private var sample: Seq[Page] = Seq.empty
  /** url -> sha256(content) of the reference extraction. */
  private var expected: Map[String, String] = Map.empty

  def materialize(dir: Path): Unit = {
    pages = CorpusGen.pages(n, seed)
    pagesDir = dir.resolve("pages")
    spark.createDataset(pages).write.parquet(pagesDir.toString)
  }

  def prepare(): Unit = {
    val deduped = latestPerUrl(pages)
    expected = deduped.par.map { p =>
      val r = ExtractKernel.extractOne(p, options)
      p.url -> (if (r.status == "completed") sha256Hex(r.content) else s"status:${r.status}")
    }.seq.toMap
    sample = deduped.take(SampleSize)
    pages = Seq.empty
  }

  def kernelSample: Seq[Page] = sample

  private def pagesDs: Dataset[Page] = spark.read.parquet(pagesDir.toString).as[Page]

  def plantFault(): Unit = {
    val (url, digest) = expected.head
    expected = expected.updated(url, digest.reverse)
  }

  def cycle(index: Int, ctx: Option[Ctx]): Cycle = {
    val root = work.resolve(s"table-$index")
    try {
      val t0 = System.nanoTime()
      runJob(pagesDs, ExtractJob.Config(root.toString, runId = "crawl", options = options,
        numBuckets = NumBuckets, bucketsPerWave = NumBuckets / 2), ctx)
      val writeS = (System.nanoTime() - t0) / 1e9
      var rows = 0L
      val (readS, failed) = reads { _ =>
        layer(ctx, "table.read") { _ =>
          val got = new LineageTable(root.toString).read(spark)
            .select(col("url"), when(col("status") === "completed", sha2(col("content"), 256))
              .otherwise(concat(lit("status:"), col("status"))))
            .collect().map(r => r.getString(0) -> r.getString(1))
          val gotMap = got.toMap
          rows = got.length
          // duplicate urls, missing or extra urls and wrong digests all count
          (got.length - gotMap.size) +
            expected.count { case (u, d) => !gotMap.get(u).contains(d) } +
            gotMap.keySet.count(u => !expected.contains(u)).toLong
        }
      }
      Cycle(writeS, readS, writeS, rows, expected.size, ReadRepeats.toLong * expected.size, failed)
    } finally Fs.deleteTree(root)
  }

  def probes(ctx: Ctx): Map[String, Double] = Map(
    "sources.scan_s" -> probe(ctx, "sources.scan")(noop(pagesDs.toDF())),
    "kernel.scan_extract_s" -> probe(ctx, "kernel.scan_extract")(
      noop(ExtractKernel.extract(pagesDs, options)(spark).toDF())),
  )
}

/** `recrawl`: crawl A is committed during set-up; each cycle restores that
  * committed table, runs `Recrawl.run` and `Recrawl.retireGone` against
  * gzipped WARC crawl B (≈10% changed, ≈10% gone, ≈2% added urls), then
  * reads it back with `LineageTable.readLatest`, checks that the visible
  * url set is exactly crawl B, and publishes WET with `WetExport.fromTable`. */
final class RecrawlLoop(spark: SparkSession, seed: Long, work: Path, n: Int)
    extends Workload(spark, seed, work) {

  /** Text output, as for a table that feeds WET publication. */
  val options: ConversionOptions = ConversionOptions(outputFormat = OutputFormat.Text)
  protected val ReadRepeats = 2
  /** Cycles are short here; a third one makes the median robust to the
    * first cycle still warming up. */
  val MinCycles = 3
  /** CrawlDemo's table layout: 16 buckets, so one wave. */
  private val NumBuckets = 16
  private var dirA: String = _
  private var dirB: String = _
  private var pristine: Path = _
  private var wantB: Set[String] = Set.empty
  /** Changed plus added urls: the pages the recrawl must re-extract. */
  private var wantDelta = 0L
  private var sample: Seq[Page] = Seq.empty

  def materialize(dir: Path): Unit = {
    val a = latestPerUrl(CorpusGen.pages(n, seed))
    // crawl B, following CrawlDemo: slot 3 changed (a newer capture time and
    // the payload of a later page of the same document type), slot 7 gone,
    // and ~2% new urls added
    def slot(p: Page): Int =
      java.lang.Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(p.url, seed.toInt), 10)
    val TypePeriod = 50 // CorpusGen.docTypeFor repeats every 50 indices
    val donorShift = TypePeriod * ((n + n / 2) / TypePeriod + 1)
    val changed = a.filter(slot(_) == 3).map { p =>
      val i = p.url.substring(p.url.lastIndexOf("page-") + 5, p.url.lastIndexOf('.')).toLong
      val donor = CorpusGen.pageFor(i + donorShift, seed)
      p.copy(html = donor.html, text = donor.text,
        warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 86400000L))
    }
    val urlsA = a.map(_.url).toSet
    val added = (0 until math.max(n / 50, 1)).map(i => CorpusGen.pageFor(3L * n + i, seed))
      .filterNot(p => urlsA.contains(p.url))
    val b = a.filter(p => slot(p) != 3 && slot(p) != 7) ++ changed ++ added
    dirA = dir.resolve("crawlA").toString
    dirB = dir.resolve("crawlB").toString
    val perFile = math.max(n / 8, 1)
    WarcGen.writeFiles(dirA, a, perFile, gzipped = true)
    WarcGen.writeFiles(dirB, b, perFile, gzipped = true)
    wantB = b.map(_.url).toSet
    wantDelta = (changed.size + added.size).toLong
    sample = b.sortBy(_.url).take(SampleSize)
    pristine = dir.resolve("tableA")
  }

  /** Commit crawl A, the state every cycle starts from. */
  def prepare(): Unit =
    ExtractJob.run(spark, pagesOf(dirA),
      ExtractJob.Config(pristine.toString, runId = "crawlA", numBuckets = NumBuckets, options = options))

  def kernelSample: Seq[Page] = sample

  private def pagesOf(dir: String): Dataset[Page] =
    WarcSource.asPages(spark.read.format("warc").load(dir))

  def plantFault(): Unit = wantB = wantB - wantB.head

  def cycle(index: Int, ctx: Option[Ctx]): Cycle = {
    val root = work.resolve(s"table-$index")
    val wetRoot = work.resolve(s"wet-$index")
    Fs.copyTree(pristine, root)
    try {
      val table = new LineageTable(root.toString, NumBuckets)
      val (a, b) = (pagesOf(dirA), pagesOf(dirB))
      val cfg = ExtractJob.Config(root.toString, runId = "crawlB", numBuckets = NumBuckets, options = options)
      val t0 = System.nanoTime()
      ctx match {
        // traced: Recrawl.run's own body, so that the wave hook can be passed
        case Some(_) => runJob(Recrawl.pagesNeedingExtraction(a, b), cfg.copy(appendSnapshot = true), ctx)
        case None => Recrawl.run(spark, a, b, cfg)
      }
      val t1 = System.nanoTime()
      layer(ctx, "table.retire")(_ => Recrawl.retireGone(table, a, b))
      val writeS = (System.nanoTime() - t0) / 1e9
      val (readS, failed) = reads { i =>
        val bad = layer(ctx, "table.read_latest") { _ =>
          val rows = table.readLatest(spark, versionCol = "warc_ts")
            .select(col("url"), col("status")).collect()
          val visible = rows.map(_.getString(0)).toSet
          // duplicate urls, extra or missing urls and failed rows all count
          (rows.length - visible.size) + (visible -- wantB).size + (wantB -- visible).size +
            rows.count(_.getString(1) != "completed").toLong
        }
        layer(ctx, "wet.export")(_ => WetExport.fromTable(spark, table, wetRoot.resolve(s"r$i").toString))
        bad
      }
      val delta = spark.read.parquet(root.resolve("data").resolve("crawlB").toString).count()
      Cycle(writeS, readS, (t1 - t0) / 1e9, delta, wantDelta,
        ReadRepeats.toLong * wantB.size, failed)
    } finally { Fs.deleteTree(root); Fs.deleteTree(wetRoot) }
  }

  def probes(ctx: Ctx): Map[String, Double] = {
    val scanS = probe(ctx, "sources.scan")(noop(pagesOf(dirB).toDF()))
    var delta = 0L
    val diffS = probe(ctx, "recrawl.diff") {
      delta = Recrawl.diff(pagesOf(dirA), pagesOf(dirB))
        .where(col("status").isin("added", "changed")).count()
    }
    val kernelS = probe(ctx, "kernel.scan_extract")(noop(ExtractKernel.extract(
      Recrawl.pagesNeedingExtraction(pagesOf(dirA), pagesOf(dirB)), options)(spark).toDF()))
    Map("sources.scan_s" -> scanS, "recrawl.diff_s" -> diffS,
      "recrawl.delta_pages" -> delta.toDouble, "kernel.scan_extract_s" -> kernelS)
  }
}

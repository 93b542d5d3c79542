package graft

import graft.gen.CorpusGen
import graft.model.{ConversionOptions, Page}
import graft.pipeline.{ExtractJob, ExtractKernel}
import graft.streaming.StreamingExtract
import graft.table.LineageTable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** The one-pass wave commit: lineage counted while the data is written
  * must equal a recount of the committed data, on every writer (batch
  * waves, streaming batches, compaction), and a wave must not grow back
  * the Spark jobs the read-back used to cost. */
class WaveCommitSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def freshRoot(): String = Files.createTempDirectory("graft-wave-").toString

  /** Corpus pages plus corrupt zips (failed rows) spread over the buckets. */
  private def pagesWithFailures(n: Int, bad: Int, from: Int = 0): Dataset[Page] = {
    val s = spark
    import s.implicits._
    val corrupt = (0 until bad).map(i => Page(s"https://bad.example/$from-$i.docx", new Timestamp(0L),
      Array[Byte]('P', 'K', 3, 4, 'w', 'o', 'r', 'd', '/', 0, 1, 2), "", "en"))
    spark.createDataset((from until from + n).map(i => CorpusGen.pageFor(i.toLong)) ++ corrupt)(implicitly)
  }

  /** Oracle: the per-bucket aggregation the commit path used to run over
    * the written files. */
  private def recount(data: DataFrame): Map[Int, (Long, Long, Long)] =
    data.groupBy(col("_bucket"))
      .agg(count(lit(1)),
        sum(when(col("status") === "completed", 1L).otherwise(0L)),
        sum(when(col("status") === "failed", 1L).otherwise(0L)))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  private val lineageSchema = Seq(
    "_bucket" -> IntegerType, "rows" -> LongType, "completed" -> LongType, "failed" -> LongType,
    "wall_ms" -> LongType, "run_id" -> StringType, "wave" -> LongType, "committed_at" -> TimestampType)

  /** Lineage rows per bucket (summed over commits), after checking the
    * column layout and that each lineage dir is one file. */
  private def lineageOf(table: LineageTable): Map[Int, (Long, Long, Long)] = {
    table.currentLineageDirs.foreach { d =>
      val files = scala.util.Using.resource(Files.list(Paths.get(d)))(
        _.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")))
      assert(files == 1, s"lineage dir $d holds $files parquet files")
    }
    val lin = table.readLineage(spark)
    assert(lin.schema.fields.map(f => f.name -> f.dataType).toSeq == lineageSchema)
    assert(lin.where(col("rows") <= 0).count() == 0, "lineage rows only for buckets with rows")
    lin.groupBy(col("_bucket")).agg(sum("rows"), sum("completed"), sum("failed"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  test("multi-wave run with failed rows: lineage equals a recount of the committed data") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "lin", numBuckets = 8, bucketsPerWave = 4)
    val report = ExtractJob.run(spark, pagesWithFailures(120, 12), cfg)
    val table = new LineageTable(root, 8)
    val expected = recount(table.read(spark))
    assert(expected.values.map(_._3).sum >= 12, "precondition: the corrupt zips fail")
    assert(lineageOf(table) == expected)
    assert(table.readLineage(spark).groupBy("_bucket").count().where("count > 1").count() == 0)
    assert((report.rows, report.completed, report.failed) == ((
      expected.values.map(_._1).sum, expected.values.map(_._2).sum, expected.values.map(_._3).sum)))
  }

  test("streaming batch commits: lineage equals a recount of the committed data") {
    val root = freshRoot()
    val table = new LineageTable(root, numBuckets = 4)
    def batch(from: Int) =
      ExtractKernel.extract(pagesWithFailures(20, 3, from), ConversionOptions())(spark).toDF()
    assert(StreamingExtract.commitStreamBatch(table, batch(0), "s", 0L))
    assert(StreamingExtract.commitStreamBatch(table, batch(20), "s", 1L))
    val expected = recount(table.read(spark))
    assert(expected.values.map(_._3).sum >= 6, "precondition: the corrupt zips fail")
    assert(lineageOf(table) == expected)
  }

  test("compact(resolveLatestBy): lineage equals a recount of the compacted data") {
    val root = freshRoot()
    // two append commits re-extract the same urls: compaction resolves them
    ExtractJob.run(spark, pagesWithFailures(60, 4),
      ExtractJob.Config(root, "a1", numBuckets = 8, bucketsPerWave = 4, appendSnapshot = true))
    ExtractJob.run(spark, pagesWithFailures(60, 4, from = 30),
      ExtractJob.Config(root, "a2", numBuckets = 8, bucketsPerWave = 4, appendSnapshot = true))
    val table = new LineageTable(root, 8)
    table.compact(spark, resolveLatestBy = Some(("url", "created_at")))
    val compacted = table.read(spark)
    assert(compacted.count() == compacted.select("url").distinct().count())
    val expected = recount(compacted)
    assert(expected.values.map(_._3).sum >= 8, "precondition: the corrupt zips fail")
    assert(lineageOf(table) == expected)
  }

  /** Counts the jobs started while the test thread carries the "count"
    * tag. [[total]] runs a one-task marker job under the "fence" tag and
    * waits for its start event: the listener bus delivers events in order,
    * so every event of earlier jobs has been counted by then. */
  private final class JobCounter extends SparkListener {
    private val Tag = "graft.test.jobs"
    private val fence = new java.util.concurrent.CountDownLatch(1)
    @volatile private var jobs = 0

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty(Tag)).foreach {
        case "count" => jobs += 1
        case "fence" => fence.countDown()
        case _ => ()
      }

    def counting[T](f: => T): T = tagged("count")(f)

    def total(): Int = {
      tagged("fence")(spark.sparkContext.parallelize(Seq(1), 1).count())
      assert(fence.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
      jobs
    }

    private def tagged[T](tag: String)(f: => T): T = {
      spark.sparkContext.setLocalProperty(Tag, tag)
      try f finally spark.sparkContext.setLocalProperty(Tag, null)
    }
  }

  test("job budget: a 2-wave run costs 3 Spark jobs per wave") {
    val s = spark
    import s.implicits._
    val pages = spark.createDataset(CorpusGen.pages(120))(implicitly)
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      counter.counting(ExtractJob.run(spark, pages,
        ExtractJob.Config(freshRoot(), "budget", numBuckets = 8, bucketsPerWave = 4)))
      // staging (dedup shuffle map, write) + 2 waves x (extract + shuffle
      // map, data write, lineage write); a read-back, collect or count in
      // the wave loop raises it
      assert(counter.total() == 2 + 2 * 3)
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}

package graft.pipeline

import graft.model.{ConversionOptions, Page}
import graft.table.LineageTable
// Skew.repartitionBySizeBucket intentionally not applied here — see the
// shuffle note inside run()
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The resumable extraction job: pages → latest-crawl dedup → deterministic
  * url-hash buckets → staged input → per-wave extract + commit → snapshot.
  *
  * Dedup is an exact window over the url keeping the max-`warc_ts` capture,
  * applied before extraction (it shuffles raw payloads once; on a pages
  * table bucketed by url it degenerates to a map-side window).
  *
  * Staging: with more than one wave, the deduped, bucket-partitioned input
  * is written once to parquet under `root/_stage/runId` before the wave
  * loop. Without it every wave would re-scan the FULL pages input
  * (`_bucket` is computed, so nothing prunes) and re-shuffle raw payloads
  * for the dedup window: at 100 TB that is `numWaves` full-table
  * scans+shuffles. With it the dedup shuffle happens once and each wave's
  * `.where(_bucket isin ...)` is a partition-pruned read of ~1/numWaves of
  * the data. It amortizes at 2+ waves; a resumed run reuses a completed
  * staging (_SUCCESS + fingerprint), and the dir is deleted after the
  * final snapshot commit.
  *
  * Commit protocol (north rule "checkpointed resume"):
  *  - work unit = url-hash bucket (stable across runs/partitionings — NEVER
  *    Spark task ids); waves of `bucketsPerWave` buckets are extracted
  *    and committed together;
  *  - a wave writes its results parquet (partitioned by bucket for
  *    downstream partition pruning) and counts its lineage in the same
  *    pass: the per-bucket rows/completed/failed/wall_ms are aggregated in
  *    the write's result stage, once per partition (retried attempts never
  *    double-count), with no read-back of the written files
  *    ([[LineageTable.writeWithLineage]]). Then one small lineage parquet,
  *    then one marker file per bucket carrying the same counts — markers
  *    last, so a crash mid-wave leaves no marker and the rerun redoes the
  *    whole wave (at-least-once, idempotent because output paths are keyed
  *    by wave id and overwritten). A wave costs three Spark jobs: extract +
  *    shuffle map, data write, lineage write;
  *  - rerunning the same (table, runId) skips all marked buckets: a killed
  *    job never re-extracts completed partitions;
  *  - after the last wave, a snapshot manifest is committed atomically.
  *
  * Scale notes: buckets give the resume granularity (64 default here;
  * thousands at 100 TB so a lost wave is bounded); within a wave, fine
  * input splits and dynamic task scheduling spread the work, and AQE
  * handles residual imbalance. The only shuffle per wave moves the
  * extracted results into bucket-aligned files — extraction itself is
  * map-side.
  */
object ExtractJob {

  final case class Config(
      root: String,
      runId: String,
      numBuckets: Int = 64,
      bucketsPerWave: Int = 16,
      options: ConversionOptions = ConversionOptions(),
      timeoutMs: Long = ExtractKernel.DefaultTimeoutMs,
      /** Commit the run as an APPEND snapshot (merge-on-read) instead of a
        * replacing one: existing rows stay visible and re-extracted urls
        * resolve latest-wins via [[LineageTable.readLatest]]. The recrawl
        * mode — see [[Recrawl]]. */
      appendSnapshot: Boolean = false,
  )

  /** `rows`/`completed`/`failed` total the run's markers, so they cover
    * every bucket of the run, including those a killed earlier attempt
    * committed. */
  final case class Report(snapshotId: Long, wavesRun: Int, bucketsSkipped: Int, bucketsRun: Int,
                          rows: Long, completed: Long, failed: Long)

  /** Hook for tests: invoked after each committed wave (wave index). */
  type WaveHook = Int => Unit

  def run(spark: SparkSession, pages: Dataset[Page], cfg: Config, afterWave: WaveHook = _ => ()): Report = {
    import spark.implicits._
    val table = new LineageTable(cfg.root, cfg.numBuckets)

    val w = org.apache.spark.sql.expressions.Window.partitionBy($"url").orderBy($"warc_ts".desc)
    val withBucket = pages.withColumn("_rn", row_number().over(w)).where($"_rn" === 1).drop("_rn")
      .withColumn("_bucket", pmod(xxhash64($"url"), lit(cfg.numBuckets)).cast("int"))

    val done = table.doneBuckets(cfg.runId)
    // FIXED wave partition of the full bucket range — never regrouped from
    // the pending set: a kill inside the per-bucket marker loop leaves a
    // wave partially marked, and pending-based regrouping would shift wave
    // boundaries so the old (fully-written) wave dir and the re-extracted
    // shifted waves BOTH reach the snapshot, duplicating every unmarked
    // bucket of the partial wave. With fixed chunks the partial wave re-runs
    // WHOLE into the same wave dir (Overwrite), re-extracting its already-
    // marked buckets (bounded: < one wave of wasted work) but never
    // double-counting a row.
    val allWaves = (0 until cfg.numBuckets).grouped(cfg.bucketsPerWave).toVector
    val waves = allWaves.filter(_.exists(b => !done.contains(b)))
    val rerun = waves.flatten.toSet

    // resume-config guard, staging or not: done-markers written under one
    // numBuckets are lies under another — it changes the url→bucket map.
    // Keys are checked one way (requested ⊆ recorded), so a CONFIG.json
    // from an older run that also recorded "dedup" still matches.
    val cfgFp: Map[String, Any] = Map("num_buckets" -> cfg.numBuckets)
    val cfgFile = java.nio.file.Paths.get(cfg.root, "_checkpoint", cfg.runId, "CONFIG.json")
    if (java.nio.file.Files.exists(cfgFile)) {
      val prev = graft.core.Json.parse(new String(
        java.nio.file.Files.readAllBytes(cfgFile), java.nio.charset.StandardCharsets.UTF_8))
        .asInstanceOf[Map[String, Any]]
      require(cfgFp.forall { case (k, v) => prev.get(k).map(String.valueOf).contains(String.valueOf(v)) },
        s"resume of runId '${cfg.runId}' with a different config (recorded $prev vs " +
          s"requested $cfgFp); use a new runId to run with a different configuration")
    } else {
      java.nio.file.Files.createDirectories(cfgFile.getParent)
      java.nio.file.Files.write(cfgFile,
        graft.core.Json.write(cfgFp).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

    // stage once, prune per wave (see the class doc). An existing
    // staging is ALWAYS reused on resume — even with one wave left, the
    // remaining buckets must extract from the same pinned input as the
    // completed ones, not from a possibly-drifted live input.
    val stageDir = s"${cfg.root}/_stage/${cfg.runId}"
    val fpFile = java.nio.file.Paths.get(stageDir, "_FINGERPRINT.json")
    // complete = data committed AND fingerprint present: a crash between
    // the parquet job and the fingerprint write must re-stage, not accept
    // an unverifiable staging as-is
    def stagingComplete =
      java.nio.file.Files.exists(java.nio.file.Paths.get(stageDir, "_SUCCESS")) &&
        java.nio.file.Files.exists(fpFile)
    val bucketed: DataFrame =
      if (waves.length > 1 || stagingComplete) {
        // A runId pins its staged INPUT DATA immutably by design: completed
        // buckets were extracted from the staged snapshot, so a resume must
        // not silently mix a drifted live input mid-run. A resume whose
        // staging SCHEMA disagrees fails loudly (numBuckets is already
        // guarded by CONFIG.json above).
        val fp: Map[String, Any] = Map(
          "num_buckets" -> cfg.numBuckets,
          "schema" -> withBucket.schema.catalogString,
        )
        if (!stagingComplete) {
          withBucket.write.mode(SaveMode.Overwrite).partitionBy("_bucket").parquet(stageDir)
          java.nio.file.Files.write(fpFile, graft.core.Json.write(fp).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } else {
          val staged =
            graft.core.Json.parse(new String(java.nio.file.Files.readAllBytes(fpFile), java.nio.charset.StandardCharsets.UTF_8))
              .asInstanceOf[Map[String, Any]]
          val same =
            fp.forall { case (k, v) => staged.get(k).map(String.valueOf).contains(String.valueOf(v)) }
          require(same,
            s"resume of runId '${cfg.runId}' does not match its staged input at $stageDir " +
              s"(staged $staged vs requested $fp); use a new runId (or delete the stage dir) " +
              "to run with a different configuration")
        }
        // explicit schema: an empty input writes only _SUCCESS and schema
        // inference would throw; _bucket stays a partition column -> pruned
        spark.read.schema(withBucket.schema).parquet(stageDir)
      } else withBucket

    var waveIdx = 0
    waves.foreach { waveBuckets =>
      val waveId = waveBuckets.min // stable wave id = smallest bucket in it
      val dataDir = s"${cfg.root}/data/${cfg.runId}/wave-$waveId"
      val lineageDir = s"${cfg.root}/lineage/${cfg.runId}/wave-$waveId"

      val subset = bucketed
        .where($"_bucket".isin(waveBuckets: _*))
        .select($"url", $"warc_ts", $"html", $"text", $"lang")
        .as[Page]
      // NO payload shuffle before the kernel: extraction shrinks data, so
      // heavy-tail skew is handled by fine input splits + dynamic task
      // scheduling (a single multi-MB doc costs ~50ms — no straggler), and
      // the only shuffle moves the much smaller extracted results into
      // bucket-aligned files. Skew.repartitionBySizeBucket remains available
      // for pathological inputs (multi-GB blobs). Measured on this box:
      // payload-shuffle plan = 0.55 scaling efficiency 8→32 cores;
      // this plan = 0.87 (see BENCH.md).
      val results = ExtractKernel.extract(subset, cfg.options, cfg.timeoutMs)(spark)
        .withColumn("_bucket", pmod(xxhash64($"url"), lit(cfg.numBuckets)).cast("int"))

      val slots = spark.sparkContext.defaultParallelism
      val filesPerBucket = math.max(1, slots * 2 / math.max(waveBuckets.size, 1))
      // the repartition stays BELOW the lineage observation, which must run
      // in the write's result stage (see LineageTable.writeWithLineage)
      val stats = LineageTable.writeWithLineage(
        results
          .withColumn("_salt", pmod(xxhash64($"task_id"), lit(filesPerBucket)))
          .repartition(waveBuckets.size * filesPerBucket, $"_bucket", $"_salt")
          .drop("_salt"),
        dataDir, lineageDir, cfg.runId, waveId)

      // markers LAST — only now is the wave durable
      waveBuckets.foreach { b =>
        val s = stats.getOrElse(b, LineageTable.BucketStats(0L, 0L, 0L, 0L))
        table.markDone(cfg.runId, b, Map(
          "bucket" -> b, "run_id" -> cfg.runId, "wave" -> waveId,
          "data_dir" -> dataDir, "lineage_dir" -> lineageDir,
          "rows" -> s.rows, "completed" -> s.completed, "failed" -> s.failed, "wall_ms" -> s.wallMs,
        ))
      }
      afterWave(waveIdx)
      waveIdx += 1
    }

    // snapshot: union of data dirs recorded by ALL markers of this run
    // (including waves committed by a previous killed attempt) — read
    // through the table layer, which owns the marker layout
    val markers = table.markers(cfg.runId)
    val dataDirs = markers.map(m => String.valueOf(m("data_dir"))).distinct
    val lineageDirs = markers.map(m => String.valueOf(m("lineage_dir"))).distinct
    // resurrection: task ids are deterministic (name-UUID of the url), so
    // a re-extraction of a previously RETIRED url — on EITHER commit kind —
    // carries the same id its tombstone names; clear those tombstones or
    // the fresh rows stay invisible forever (and the next compact()
    // physically drops them). Broadcast-join the (small, maxRetire-bounded)
    // tombstone set against ONLY this run's output; the collect is
    // ≤ |tombstones|. Runs BEFORE the commit — the two mutations are not
    // failure-atomic in either order, so pick the recoverable failure: a
    // crash in the undelete→commit window leaves the OLD retired row
    // visible (stale content served until the runId is rerun or the url
    // re-retired — recoverable, and a resumed run re-commits); the
    // swapped order's window loses data unrecoverably (commit → compact
    // captures the tombstone → rewrite WITHOUT the fresh row → undelete →
    // tombstone gone AND data gone, nothing left to rerun).
    // totalRows guards the zero-delta run, whose wave dirs carry only
    // _SUCCESS and would fail parquet schema inference.
    def total(key: String): Long = markers.map(m => String.valueOf(m(key)).toLong).sum
    val totalRows = total("rows")
    if (dataDirs.nonEmpty && totalRows > 0) {
      val ts = table.tombstones
      if (ts.nonEmpty) {
        val tsDf = spark.createDataset(ts.toSeq).toDF("task_id")
        val resurrected = spark.read.parquet(dataDirs: _*).select($"task_id")
          .join(org.apache.spark.sql.functions.broadcast(tsDf), "task_id")
          .distinct().collect().map(_.getString(0))
        table.undeleteTasks(resurrected)
      }
    }

    val snapId =
      if (cfg.appendSnapshot) table.appendCommit(dataDirs, lineageDirs, cfg.runId)
      else table.commitSnapshot(dataDirs, lineageDirs, cfg.runId)

    // staging AND markers are scratch: drop both once the snapshot is
    // durable. Stale markers would let a rerun of this runId after GC
    // commit a snapshot of deleted dirs, and they shield this run's dirs
    // from removeOrphans forever.
    table.deleteRecursively(java.nio.file.Paths.get(stageDir))
    table.clearMarkers(cfg.runId)

    Report(snapId, waves.length, cfg.numBuckets - rerun.size, rerun.size,
      totalRows, total("completed"), total("failed"))
  }
}

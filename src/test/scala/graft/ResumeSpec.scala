package graft

import graft.gen.CorpusGen
import graft.model.ConversionOptions
import graft.pipeline.ExtractJob
import graft.table.LineageTable
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import java.nio.file.Files

/** LineageTable + ExtractJob: checkpointed resume (killed job never
  * re-extracts committed buckets), snapshot isolation, lineage stats, GC
  * (SURVEY.md §5.2-5). */
class ResumeSpec extends AnyFunSuite with TimeLimits {

  private implicit val signaler: Signaler = ThreadSignaler

  private lazy val spark = SparkTestBase.spark
  private val N = 120

  private def pagesDs = {
    val s = spark
    import s.implicits._
    spark.createDataset(CorpusGen.pages(N))(implicitly)
  }

  private def freshRoot(): String =
    Files.createTempDirectory("graft-table-").toString

  test("empty crawl delta: multi-wave run completes and commits (no schema-inference crash)") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val empty = spark.createDataset(Seq.empty[graft.model.Page])(implicitly)
    val cfg = ExtractJob.Config(root, runId = "empty1", numBuckets = 16, bucketsPerWave = 4)
    // bounded: a lineage observation that never completed would hang here
    val report = failAfter(Span(180, Seconds)) {
      ExtractJob.run(spark, empty, cfg) // staging path active (4 waves)
    }
    assert(report.snapshotId == 1L && report.bucketsRun == 16)
    assert(report.rows == 0L && report.failed == 0L)
    val table = new LineageTable(root, 16)
    // a data-less snapshot is a hard error on read, not an obscure parquet one
    val ex = intercept[IllegalArgumentException](table.read(spark))
    assert(ex.getMessage.contains("no data files"))
    // empty waves still leave readable, schema-carrying lineage
    val lineage = table.readLineage(spark)
    assert(lineage.count() == 0 && lineage.columns.toSeq == Seq(
      "_bucket", "rows", "completed", "failed", "wall_ms", "run_id", "wave", "committed_at"))
  }

  test("full run commits a readable snapshot with complete lineage") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "run1", numBuckets = 16, bucketsPerWave = 4)
    val report = ExtractJob.run(spark, pagesDs, cfg)
    assert(report.snapshotId == 1L)
    assert(report.bucketsRun == 16 && report.bucketsSkipped == 0)

    val table = new LineageTable(root, 16)
    val df = table.read(spark)
    val distinctUrls = pagesDs.select("url").distinct().count()
    assert(df.count() == distinctUrls) // latest-crawl dedup applied
    assert(df.where("status = 'completed'").count() == distinctUrls)

    val lineage = table.readLineage(spark)
    val sums = lineage.groupBy().sum("rows", "completed").collect()(0)
    assert(sums.getLong(0) == distinctUrls && sums.getLong(1) == distinctUrls)
    // the run report totals the same counts, from the markers
    assert(report.rows == distinctUrls && report.completed == distinctUrls && report.failed == 0L)
    // every bucket with rows appears exactly once
    assert(lineage.groupBy("_bucket").count().where("count > 1").count() == 0)
    // multi-wave run staged the bucketed input; scratch removed post-snapshot
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_stage", "run1")),
      "staging dir must be deleted after the snapshot commit")
  }

  test("killed after first wave -> resume skips committed buckets, no duplicate rows") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "runX", numBuckets = 16, bucketsPerWave = 4)

    final class Kill extends RuntimeException("simulated kill")
    val died = intercept[Kill] {
      ExtractJob.run(spark, pagesDs, cfg, afterWave = w => if (w == 1) throw new Kill)
    }
    assert(died.getMessage == "simulated kill")

    val table = new LineageTable(root, 16)
    val committed = table.doneBuckets("runX")
    assert(committed.size == 8, s"expected 2 waves x 4 buckets committed, got $committed")
    assert(table.currentSnapshotId.isEmpty, "no snapshot may exist after a kill")

    // resume: same table + runId
    val report2 = ExtractJob.run(spark, pagesDs, cfg)
    assert(report2.bucketsSkipped == 8, "resume must skip the 8 committed buckets")
    assert(report2.bucketsRun == 8)

    val df = table.read(spark)
    val distinctUrls = pagesDs.select("url").distinct().count()
    assert(df.count() == distinctUrls, "resume must not duplicate rows")
    // lineage: each bucket committed exactly once across both attempts
    val lineage = table.readLineage(spark)
    assert(lineage.groupBy("_bucket").count().where("count > 1").count() == 0)
  }

  test("resume with a different config than the staging fails loudly, same config resumes") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "runF", numBuckets = 16, bucketsPerWave = 4)
    final class Kill extends RuntimeException("simulated kill")
    intercept[Kill] {
      ExtractJob.run(spark, pagesDs, cfg, afterWave = w => if (w == 0) throw new Kill)
    }
    // a resume that silently extracted under a different bucket count
    // would produce a table whose done-markers and partition layout lie —
    // the CONFIG guard fails loud, staged or not
    val ex = intercept[IllegalArgumentException] {
      ExtractJob.run(spark, pagesDs, cfg.copy(numBuckets = 8))
    }
    assert(ex.getMessage.contains("different config"), ex.getMessage)
    // identical config resumes normally
    val report = ExtractJob.run(spark, pagesDs, cfg)
    assert(report.bucketsSkipped == 4 && report.bucketsRun == 12)
    assert(new LineageTable(root, 16).read(spark).count() == pagesDs.select("url").distinct().count())
  }

  test("bucket partition pruning reaches the scan") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "runP", numBuckets = 8, bucketsPerWave = 8)
    ExtractJob.run(spark, pagesDs, cfg)
    val table = new LineageTable(root, 8)
    val plan = table.read(spark).where("_bucket = 3").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(_bucket"), s"no partition pruning in:\n$plan")
  }

  test("per-row timeout guard produces failed rows, not job kills") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, "t", numBuckets = 4, bucketsPerWave = 4, timeoutMs = -1)
    ExtractJob.run(spark, pagesDs, cfg)
    val df = new LineageTable(root, 4).read(spark)
    assert(df.where("status = 'failed'").count() == df.count(), "all rows must time out at timeoutMs=-1")
    val err = df.select("error").where("error is not null").head().getString(0)
    assert(err.contains("time limit"), err)
  }

  test("compaction: one consolidated dir, tombstones applied physically, old snapshot ages out") {
    val root = freshRoot()
    // two runs -> data_dirs accumulates wave dirs across snapshots
    ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, "r1", numBuckets = 8, bucketsPerWave = 4))
    ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, "r2", numBuckets = 8, bucketsPerWave = 4))
    val table = new LineageTable(root, 8)
    val before = table.readVisible(spark).count()
    assert(table.currentDataDirs.size > 1, "precondition: multiple wave dirs")

    // tombstone one task, then compact
    val victim = table.read(spark).select("task_id").head().getString(0)
    table.deleteTask(victim)
    val snapId = table.compact(spark)

    assert(table.currentSnapshotId.contains(snapId))
    assert(table.currentDataDirs.size == 1, "compaction must consolidate to one data dir")
    assert(table.tombstones.isEmpty, "tombstones baked in after compaction")
    val after = table.read(spark)
    assert(after.count() == before - 1, "tombstoned row physically gone")
    assert(after.where(s"task_id = '$victim'").count() == 0)
    // lineage consolidated and consistent
    val lineage = table.readLineage(spark)
    assert(lineage.groupBy("_bucket").count().where("count > 1").count() == 0)
    assert(lineage.groupBy().sum("rows").collect()(0).getLong(0) == before - 1)
    // bucket pruning still works on the compacted layout
    val plan = after.where("_bucket = 3").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(_bucket"), s"pruning lost:\n$plan")
    // GC removes the superseded pre-compaction dirs; table stays readable
    val deleted = table.expireSnapshots(ttlMs = 0L, nowMs = System.currentTimeMillis() + 1000000L)
    assert(deleted > 0)
    assert(table.read(spark).count() == before - 1)
  }

  test("time travel: readAt serves past snapshots, rollback is an atomic pointer write") {
    val root = freshRoot()
    ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, "tt1", numBuckets = 8, bucketsPerWave = 8))
    val table = new LineageTable(root, 8)
    val n1 = table.read(spark).count()
    // second run commits a superseding snapshot; tombstone under it too
    ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, "tt2", numBuckets = 8, bucketsPerWave = 8))
    table.compact(spark)
    assert(table.snapshotIds == Seq(1L, 2L, 3L))

    // VERSION AS OF: snapshot 1 = run tt1's own dirs, regardless of CURRENT
    val at1 = table.readAt(spark, 1L)
    assert(at1.count() == n1)
    assert(at1.select("task_id").head().getString(0).nonEmpty)
    // rollback then roll forward — both just move the pointer
    table.rollbackTo(1L)
    assert(table.currentSnapshotId.contains(1L))
    assert(table.read(spark).count() == n1)
    table.rollbackTo(3L)
    assert(table.read(spark).count() == n1)

    // expiry deletes the unreferenced past; time travel then raises clearly
    table.expireSnapshots(ttlMs = 0L, nowMs = System.currentTimeMillis() + 1000000L)
    val ex = intercept[IllegalArgumentException](table.readAt(spark, 1L))
    assert(ex.getMessage.contains("expired"))
    val ex2 = intercept[IllegalArgumentException](table.rollbackTo(1L))
    assert(ex2.getMessage.contains("not retained"))
  }

  test("commit after rollback allocates past retained snapshots, never overwriting them") {
    val root = freshRoot()
    ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, "ra", numBuckets = 8, bucketsPerWave = 8))
    ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, "rb", numBuckets = 8, bucketsPerWave = 8))
    val table = new LineageTable(root, 8)
    val n2 = table.readAt(spark, 2L).count()
    table.rollbackTo(1L)
    // id must come from max(snapshotIds)+1, not CURRENT+1 — CURRENT+1
    // would overwrite snapshot-2.json and orphan rb's data dirs forever
    val report = ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, "rc", numBuckets = 8, bucketsPerWave = 8))
    assert(report.snapshotId == 3L, s"got ${report.snapshotId}")
    assert(table.snapshotIds == Seq(1L, 2L, 3L))
    assert(table.readAt(spark, 2L).count() == n2, "snapshot 2 must be untouched")
    assert(table.snapshot(2L)("run_id") == "rb")
  }

  test("rollback-then-compact never reuses a retained compaction's data dir") {
    val root = freshRoot()
    ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, "ca", numBuckets = 8, bucketsPerWave = 8))
    val table = new LineageTable(root, 8)
    assert(table.compact(spark) == 2L) // dir data/compact-2
    val n2 = table.readAt(spark, 2L).count()
    table.rollbackTo(1L)
    // make the second compaction's content distinguishable from compact-2's
    val victim = table.read(spark).select("task_id").head().getString(0)
    table.deleteTask(victim)
    // id must come from max(snapshotIds)+1: CURRENT+1 would name the dir
    // compact-2 again and SaveMode.Overwrite would destroy the data dir
    // snapshot 2 still references (readAt(2) would silently lose a row)
    val id = table.compact(spark)
    assert(id == 3L, s"got $id")
    assert(table.read(spark).count() == n2 - 1)
    assert(table.readAt(spark, 2L).count() == n2, "snapshot 2's dir must be untouched")
  }

  test("snapshot expiry GC deletes unreferenced dirs, keeps current") {
    val root = freshRoot()
    val cfgA = ExtractJob.Config(root, runId = "old", numBuckets = 8, bucketsPerWave = 8)
    ExtractJob.run(spark, pagesDs, cfgA)
    val cfgB = ExtractJob.Config(root, runId = "new", numBuckets = 8, bucketsPerWave = 8)
    ExtractJob.run(spark, pagesDs, cfgB)

    val table = new LineageTable(root, 8)
    assert(table.currentSnapshotId.contains(2L))
    val deleted = table.expireSnapshots(ttlMs = 0L, nowMs = System.currentTimeMillis() + 1000000L)
    assert(deleted > 0)
    // current snapshot still readable
    val df = table.read(spark)
    assert(df.count() == pagesDs.select("url").distinct().count())
    // old run's data dir gone
    assert(!Files.exists(java.nio.file.Paths.get(root, "data", "old", "wave-0")))
  }

  private def writeDir(root: String, run: String, rows: Seq[(String, String, Int, String, Long)]): String = {
    val s = spark
    import s.implicits._
    val d = s"$root/data/$run"
    rows.toDF("task_id", "url", "_bucket", "status", "processing_time_ms").write.parquet(d)
    d
  }

  test("snapshot ids stay monotonic across rollback + expiry (no id reuse)") {
    val root = freshRoot()
    val t = new LineageTable(root, 4)
    val d1 = writeDir(root, "r1", Seq(("t1", "u1", 0, "completed", 1L)))
    val s1 = t.commitSnapshot(Seq(d1), Nil, "r1")
    t.appendCommit(Seq(writeDir(root, "r2", Seq(("t2", "u2", 1, "completed", 1L)))), Nil, "r2")
    val s3 = t.appendCommit(Seq(writeDir(root, "r3", Seq(("t3", "u3", 2, "completed", 1L)))), Nil, "r3")
    assert(s3 == 3L)
    // a consumer checkpointed sinceId = 3; then rollback + GC drop s2, s3
    t.rollbackTo(s1)
    t.expireSnapshots(0L, nowMs = System.currentTimeMillis() + 1000000L)
    assert(t.snapshotIds == Seq(s1))
    // new commits must NOT reallocate the expired ids — the checkpointed
    // consumer gets the documented expired-id error, never a same-numbered
    // but unrelated snapshot
    val s4 = t.appendCommit(Seq(writeDir(root, "r4", Seq(("t4", "u4", 3, "completed", 1L)))), Nil, "r4")
    assert(s4 == 4L, s"id reused after expiry: got $s4")
    val ex = intercept[IllegalArgumentException](t.changesSince(spark, 3L))
    assert(ex.getMessage.contains("never committed, or expired"))
    intercept[IllegalArgumentException](t.readAt(spark, 3L))
  }

  test("changesSince applies tombstones and polls empty waves as empty") {
    val root = freshRoot()
    val t = new LineageTable(root, 4)
    val s1 = t.commitSnapshot(Seq(writeDir(root, "r1", Seq(("t1", "u1", 0, "completed", 1L)))), Nil, "r1")
    t.appendCommit(Seq(writeDir(root, "r2",
      Seq(("t2", "u2", 1, "completed", 1L), ("t3", "u3", 2, "completed", 1L)))), Nil, "r2")
    t.deleteTask("t2")
    // the deleted task never flows to an incremental consumer
    assert(t.changesSince(spark, s1).select("task_id").collect().map(_.getString(0)).toSet
      == Set("t3"))
    // empty delta returns an empty frame of the table's schema
    val none = t.changesSince(spark, s1, Some(s1))
    assert(none.count() == 0 && none.columns.contains("task_id"))
    // a table whose only commit is an empty wave polls as empty, not a throw
    val root2 = freshRoot()
    val t2 = new LineageTable(root2, 4)
    val emptyDir = s"$root2/data/e1"
    Files.createDirectories(java.nio.file.Paths.get(emptyDir))
    Files.createFile(java.nio.file.Paths.get(emptyDir, "_SUCCESS"))
    val e1 = t2.commitSnapshot(Seq(emptyDir), Nil, "e1")
    assert(t2.changesSince(spark, e1).count() == 0)
  }

  test("kill inside the marker loop: fixed waves re-run whole, no duplicate rows") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "runM", numBuckets = 16, bucketsPerWave = 4)
    final class Kill extends RuntimeException("simulated kill")
    intercept[Kill] {
      ExtractJob.run(spark, pagesDs, cfg, afterWave = w => if (w == 1) throw new Kill)
    }
    // simulate the kill landing INSIDE wave 1's marker loop instead of
    // after it: wave-4's data/lineage are fully written but only some of
    // its buckets are marked — the state pending-based wave regrouping
    // turned into duplicated rows (shifted waves + the old full wave dir)
    val table = new LineageTable(root, 16)
    Files.delete(java.nio.file.Paths.get(root, "_checkpoint", "runM", "done-6.json"))
    Files.delete(java.nio.file.Paths.get(root, "_checkpoint", "runM", "done-7.json"))
    val report = ExtractJob.run(spark, pagesDs, cfg)
    // the partial wave (4..7) re-runs WHOLE; waves 2-3 also run
    assert(report.bucketsRun == 12 && report.bucketsSkipped == 4, report.toString)
    val df = table.read(spark)
    assert(df.count() == pagesDs.select("url").distinct().count(), "duplicated rows")
    assert(df.groupBy("url").count().where("count > 1").count() == 0)
    assert(table.readLineage(spark).groupBy("_bucket").count().where("count > 1").count() == 0)
  }

  test("completed run clears markers and staging; orphan sweep spares the nested layout") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "runC", numBuckets = 8, bucketsPerWave = 2)
    ExtractJob.run(spark, pagesDs, cfg)
    val table = new LineageTable(root, 8)
    // markers + CONFIG + staging are gone once the snapshot is durable —
    // stale markers would let a rerun commit GC'd dirs and shield dirs
    // from removeOrphans forever
    assert(table.doneBuckets("runC").isEmpty, "markers must clear after the final commit")
    assert(!Files.isDirectory(java.nio.file.Paths.get(root, "_stage", "runC")))
    val n = table.read(spark).count()
    // ExtractJob's data/<runId>/wave-N layout: the snapshot references
    // wave-level dirs, removeOrphans lists data/<runId> — prefix coverage
    // must protect the whole run tree
    val removed = table.removeOrphans(0L, nowMs = System.currentTimeMillis() + 1000000L)
    assert(removed == 0, s"orphan sweep deleted referenced dirs (removed=$removed)")
    assert(table.read(spark).count() == n)
  }

  test("expiry deleted-count deduplicates dirs shared by appendCommit chains") {
    val root = freshRoot()
    val t = new LineageTable(root, 4)
    val dA = writeDir(root, "rA", Seq(("t1", "u1", 0, "completed", 1L)))
    t.commitSnapshot(Seq(dA), Nil, "rA")
    t.appendCommit(Seq(writeDir(root, "rB", Seq(("t2", "u2", 1, "completed", 1L)))), Nil, "rB")
    // replace-commit supersedes: only dC stays referenced
    val dC = writeDir(root, "rC", Seq(("t3", "u3", 2, "completed", 1L)))
    t.commitSnapshot(Seq(dC), Nil, "rC")
    // s1{A} and s2{A,B} drop; A is shared — deleted must count A,B once each
    val deleted = t.expireSnapshots(0L, nowMs = System.currentTimeMillis() + 1000000L)
    assert(deleted == 2, s"expected 2 distinct dirs deleted, got $deleted")
  }
}

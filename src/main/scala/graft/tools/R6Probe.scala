package graft.tools

import graft.pipeline.GraftSession
import org.apache.spark.sql.functions._

/** Disposable decomposition probe for the round-6 second pass: times the
  * sub-pipelines of the expensive composite queries so optimization
  * effort goes where the seconds are. Warm best-of-3 per leg. */
object R6Probe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    val d = spark.read.parquet(s"$dir/documents.parquet")

    def time(label: String)(f: => Any): Unit = {
      f
      val runs = (0 until 3).map { _ =>
        graft.core.Steal.timeWithSteal(f)
      }
      val det = runs.map { case (s, st) => f"$s%.2fs/$st" }.mkString(" ")
      println(f"[r6probe] $label%-34s min=${runs.map(_._1).min}%.3f  runs: $det")
    }

    time("lm_score (count)") {
      graft.queries.CurationQueries.lmScore(d).count()
    }
    time("lm+lang join (scored)") {
      graft.queries.CurationQueries.lmScore(d)
        .join(d.select(col("doc_id"), col("lang")), "doc_id").count()
    }
    def scored = graft.queries.CurationQueries.lmScore(d)
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
    time("ccnet assign only (window)") {
      graft.queries.QualityQueries.ccnetAssign(scored, cutAssign = false).count()
    }
    time("ccnet assign only (cutAssign)") {
      graft.queries.QualityQueries.ccnetAssign(scored, cutAssign = true).count()
    }
    time("ccnet assign forced (noop)") {
      graft.queries.QualityQueries.ccnetAssign(scored, cutAssign = false)
        .write.format("noop").mode("overwrite").save()
    }
    time("ccnet assign variantB (noop)") {
      import org.apache.spark.sql.expressions.Window
      val nl = scored.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("avg_bits_r"), col("doc_id"))))
        .join(broadcast(nl), "lang")
        .withColumn("bucket", expr("CAST(1 + (3 * CAST(rn - 1 AS BIGINT)) DIV n_lang AS INT)"))
        .write.format("noop").mode("overwrite").save()
    }
    time("ccnet rn-window only (noop)") {
      import org.apache.spark.sql.expressions.Window
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("avg_bits_r"), col("doc_id"))))
        .write.format("noop").mode("overwrite").save()
    }
    time("ccnet full") {
      graft.queries.QualityQueries.ccnetBuckets(d).count()
    }
    time("ccnet full noop") {
      graft.queries.QualityQueries.ccnetBuckets(d)
        .write.format("noop").mode("overwrite").save()
    }
    time("hits full (8 iters)") {
      graft.queries.GraphQueries.qHits(spark, dir).count()
    }
    time("nb matrix count") {
      graft.queries.CurationQueries.nbClassify(d, 256).count()
    }
    time("nb matrix collect") {
      graft.queries.CurationQueries.nbClassify(d, 256).collect()
    }
    time("nb matrix noop") {
      graft.queries.CurationQueries.nbClassify(d, 256)
        .write.format("noop").mode("overwrite").save()
    }
    time("eval full (count)") {
      graft.queries.CurationQueries.qClassifierEval(spark, dir).count()
    }
    // nb tokenizer predicate A/B: per-token regex vs translate char-set
    time("nbtok rlike (noop)") {
      d.select(col("doc_id"), col("source"),
        explode(filter(split(lower(col("text")), "\\s+"),
          w => w.rlike("^[a-z0-9]+$"))).as("word"))
        .write.format("noop").mode("overwrite").save()
    }
    time("nbtok translate (noop)") {
      d.select(col("doc_id"), col("source"),
        explode(filter(split(lower(col("text")), "\\s+"),
          w => w =!= lit("") &&
            translate(w, "abcdefghijklmnopqrstuvwxyz0123456789", "") === lit(""))).as("word"))
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}

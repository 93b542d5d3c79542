package graft.perfbench

import graft.model.{ConversionOptions, Page}
import graft.pipeline.ExtractKernel

/** Single-thread baseline of the extraction kernel: `ExtractKernel.extractOne`
  * in a plain loop on the driver thread, over a fixed sample of the
  * workload's own pages, while no Spark job runs. */
object KernelProbe {

  /** The generator's names for the kernel's document types. */
  val Types: Seq[String] = Seq("html", "pdf", "docx", "xlsx", "pptx", "md", "adoc", "png")

  private def typeName(documentType: String): String = documentType match {
    case "image" => "png"
    case "asciidoc" => "adoc"
    case t => t
  }

  final case class Result(docsPerS: Double, p50Us: Double, p99Us: Double, usPerDoc: Map[String, Double])

  /** One untimed pass warms the JIT; `passes` timed passes follow. */
  def run(sample: Seq[Page], opts: ConversionOptions, passes: Int): Result = {
    sample.foreach(ExtractKernel.extractOne(_, opts))
    val perDoc = Array.newBuilder[Double]
    val byType = scala.collection.mutable.Map.empty[String, (Double, Int)]
    var total = 0L
    for (_ <- 1 to passes; p <- sample) {
      val t0 = System.nanoTime()
      val r = ExtractKernel.extractOne(p, opts)
      val ns = System.nanoTime() - t0
      total += ns
      perDoc += ns / 1e3
      val k = typeName(r.document_type)
      val (s, n) = byType.getOrElse(k, (0.0, 0))
      byType(k) = (s + ns / 1e3, n + 1)
    }
    val us = perDoc.result().toSeq
    Result(
      docsPerS = us.size / (total / 1e9),
      p50Us = Stats.quantile(us, 0.5),
      p99Us = Stats.quantile(us, 0.99),
      usPerDoc = Types.map(t => t -> byType.get(t).map { case (s, n) => s / n }.getOrElse(0.0)).toMap)
  }
}

package graft.tools

import graft.model.{ConversionOptions, DocumentType, TaskStatus}
import graft.pipeline.{ExtractKernel, TypeDetector}
import scala.util.control.NonFatal

/** Single-threaded phase-attribution profiler for the extraction kernel —
  * answers "where does a page's kernel time go" (detect / parse /
  * serialize / strip / tables / chunk / embed) without any Spark noise, so
  * headline-path optimization targets the right stage (guide §1: measure
  * first) — and "which document type costs what": the last rep's timed
  * `extractOne` calls are bucketed by `document_type` into docs, share of
  * kernel time and µs/doc. Pages come from deterministic CorpusGen ids,
  * the same distribution as the bench corpus.
  *
  *   sbt "runMain graft.tools.KernelProfile [nPages] [reps]"
  */
object KernelProfile {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(4000)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val pages = (0 until n).map(i => graft.gen.CorpusGen.pageFor(i.toLong)).toArray

    // full-kernel throughput reference (per rep); the per-type split keeps
    // only the last rep, the warmest JIT
    val perType = scala.collection.mutable.Map.empty[String, (Long, Int)] // type -> (ns, docs)
    (1 to reps).foreach { r =>
      perType.clear()
      val t0 = System.nanoTime()
      var completed = 0
      pages.foreach { p =>
        val t = System.nanoTime()
        val res = ExtractKernel.extractOne(p, ConversionOptions())
        val dt = System.nanoTime() - t
        if (res.status == TaskStatus.Completed) completed += 1
        val (ns, docs) = perType.getOrElse(res.document_type, (0L, 0))
        perType(res.document_type) = (ns + dt, docs + 1)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[kprof] rep=$r full-kernel: $n pages in $sec%.3f s = ${n / sec}%.0f pages/s ($completed completed)")
    }
    val kernelNs = perType.values.map(_._1).sum.toDouble
    println(f"[kprof] by type (last rep): ${"type"}%-9s ${"docs"}%6s ${"share%"}%8s ${"us/doc"}%10s")
    perType.toSeq.sortBy(-_._2._1).foreach { case (t, (ns, docs)) =>
      println(f"[kprof] by type (last rep): $t%-9s $docs%6d ${ns / kernelNs * 100}%7.1f%% ${ns / 1000.0 / docs}%10.1f")
    }

    // phase attribution (last rep's measurements, warm JIT)
    var tDetect = 0L; var tParse = 0L; var tMd = 0L; var tTables = 0L
    var tChunk = 0L; var tEmbed = 0L; var tTree = 0L; var tBlocks = 0L
    var failed = 0
    val byType = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val opts = ConversionOptions()
    pages.foreach { p =>
      var t = System.nanoTime()
      val docType = TypeDetector.detect(p.html, p.url)
      tDetect += System.nanoTime() - t
      try {
        t = System.nanoTime()
        val doc = docType match {
          case DocumentType.Html =>
            val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
            val t1 = System.nanoTime()
            val tree = graft.html.TreeBuilder.parse(html)
            tTree += System.nanoTime() - t1
            val t2 = System.nanoTime()
            val d2 = graft.html.BlockExtractor.extract(tree, "f", opts.extractImages)
            tBlocks += System.nanoTime() - t2
            d2
          case DocumentType.Pdf => graft.pdf.PdfParser.parse(p.html, "f")
          case DocumentType.Docx => graft.ooxml.OoxmlParser.parseDocx(p.html, "f")
          case DocumentType.Xlsx => graft.ooxml.OoxmlParser.parseXlsx(p.html, "f")
          case DocumentType.Pptx => graft.ooxml.OoxmlParser.parsePptx(p.html, "f")
          case DocumentType.Md => graft.mdparse.MarkdownParser.parse(new String(p.html, java.nio.charset.StandardCharsets.UTF_8), "f")
          case DocumentType.Asciidoc => graft.mdparse.AsciidocParser.parse(new String(p.html, java.nio.charset.StandardCharsets.UTF_8), "f")
          case _ => graft.model.DocModel("f", DocumentType.Image, 1, Vector.empty)
        }
        val dt = System.nanoTime() - t
        tParse += dt
        byType.merge(docType, dt, (a: java.lang.Long, b: java.lang.Long) => a + b)
        t = System.nanoTime()
        val md = graft.export.MarkdownSerializer.serialize(doc)
        tMd += System.nanoTime() - t
        t = System.nanoTime()
        val tables = doc.blocks.collect { case tb: graft.model.TableBlock => tb }
        tTables += System.nanoTime() - t
        t = System.nanoTime()
        val chunks = graft.chunk.Chunker.chunkText(md, opts.chunkSize, opts.chunkOverlap)
        tChunk += System.nanoTime() - t
        t = System.nanoTime()
        if (opts.generateEmbeddings)
          chunks.foreach(c => graft.embed.HashEmbedder.embed(c.text, opts.embeddingDim))
        tEmbed += System.nanoTime() - t
        val _ = (md, tables)
      } catch { case NonFatal(_) => failed += 1 }
    }
    def ms(x: Long) = x / 1e6
    // a failed page is timed only up to its failure
    println(f"[kprof] phases over $n pages, $failed failed (ms): detect=${ms(tDetect)}%.0f parse=${ms(tParse)}%.0f (tree=${ms(tTree)}%.0f blocks=${ms(tBlocks)}%.0f) markdown=${ms(tMd)}%.0f tables=${ms(tTables)}%.0f chunk=${ms(tChunk)}%.0f embed=${ms(tEmbed)}%.0f")
    val it = byType.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); println(f"[kprof] parse by type: ${e.getKey}%-9s ${ms(e.getValue)}%.0f ms") }
  }
}

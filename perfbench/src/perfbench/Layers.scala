package perfbench

import graft.html.Boilerplate
import graft.pdf.{PdfExtract, PdfTokeniser, WorkBuffers}
import graft.pipeline.ExtractPipeline
import java.util.concurrent.atomic.AtomicInteger

/** Direct, timed calls to each layer's public functions over a workload's
  * payloads, single-threaded, with the arguments the pipeline uses
  * (`contentDelimiter = ""`, no fragments). Each pass covers every doc;
  * times are the median over passes, per-doc percentiles pool all passes.
  * `pdf.assemble_s` and `pipeline.route_s` are differences of measured
  * times (extract minus header and page finding; the whole-row call minus
  * the layer calls it makes), so noise can take them below zero. */
object Layers {
  private def secs(ns: Long): Double = ns / 1e9

  def measure(docs: IndexedSeq[Doc], passes: Int, cores: Int): Map[String, Double] = {
    val pdfs = docs.filter(_.kind == "pdf")
    val htmls = docs.filter(_.kind == "html")
    val buffers = new WorkBuffers()
    val pdfDocUs = Seq.newBuilder[Double]
    val htmlDocUs = Seq.newBuilder[Double]
    var pdfChars, pdfFailures, htmlChars, blocks, kept = 0L

    def timed(body: => Unit): Long = { val t0 = System.nanoTime(); body; System.nanoTime() - t0 }

    val perPass = (1 to passes).map { pass =>
      val first = pass == 1
      var one, sniff, header, find, extract, decode, hextract = 0L
      val byVariant = Array.fill(Workloads.PdfVariants.length)(0L)
      docs.indices.foreach { i =>
        val d = docs(i)
        // the whole-row call and the layer calls on the same payload take
        // turns going first, so cache warmth favours neither side
        if (i % 2 == 0) one += timed(ExtractPipeline.extractOne(d.url, d.payload, "en", "", buffers))
        sniff += timed(require(PdfExtract.isPdf(d.payload) == (d.kind == "pdf"), s"isPdf on ${d.url}"))
        if (d.kind == "pdf") {
          val t0 = System.nanoTime()
          val tk = new PdfTokeniser(d.payload, "", "", buffers, false, false, false)
          tk.verifyFileHeader()
          val t1 = System.nanoTime()
          tk.findPages()
          val t2 = System.nanoTime()
          val r = PdfExtract.extract(d.payload, contentDelimiter = "", buffers = buffers,
            captureFragments = false)
          val ns = System.nanoTime() - t2
          header += t1 - t0
          find += t2 - t1
          extract += ns
          byVariant(Workloads.PdfVariants.indexOf(d.variant)) += ns
          pdfDocUs += ns / 1e3
          if (first) { pdfChars += r.nChars; pdfFailures += r.decodeFailures }
        } else {
          val t0 = System.nanoTime()
          val html = Boilerplate.decode(d.payload)
          val t1 = System.nanoTime()
          val r = Boilerplate.extract(html)
          val ns = System.nanoTime() - t1
          decode += t1 - t0
          hextract += ns
          htmlDocUs += ns / 1e3
          if (first) { htmlChars += r.text.length; blocks += r.blocks; kept += r.contentBlocks }
        }
        if (i % 2 == 1) one += timed(ExtractPipeline.extractOne(d.url, d.payload, "en", "", buffers))
      }
      // pure parse, the same loop on one thread and on all cores
      val oneT = parallelPass(docs, 1)
      val nt = parallelPass(docs, cores)

      Map("pdf.sniff_s" -> secs(sniff), "pdf.header_s" -> secs(header), "pdf.find_pages_s" -> secs(find),
        "pdf.extract_s" -> secs(extract), "pdf.assemble_s" -> secs(extract - header - find),
        "html.decode_s" -> secs(decode), "html.extract_s" -> secs(hextract),
        "pipeline.route_s" -> secs(one - sniff - extract - decode - hextract),
        "parse.one_s" -> secs(oneT), "parse.nt_s" -> secs(nt)) ++
        Workloads.PdfVariants.indices.map(v => s"pdf.extract_s.${Workloads.PdfVariants(v)}" -> secs(byVariant(v)))
    }
    val med = perPass.head.keys.map(k => k -> Stats.median(perPass.map(_(k)))).toMap
    val pdfUs = pdfDocUs.result()
    val htmlUs = htmlDocUs.result()
    val oneT = med("parse.one_s")
    val ntT = med("parse.nt_s")
    val rate1 = if (oneT > 0) docs.length / oneT else 0.0
    val rateN = if (ntT > 0) docs.length / ntT else 0.0
    (med - "parse.one_s" - "parse.nt_s") ++ Map(
      "pdf.extract_p50_us" -> Stats.percentile(pdfUs, 50),
      "pdf.extract_p99_us" -> Stats.percentile(pdfUs, 99),
      "pdf.docs" -> pdfs.length.toDouble,
      "pdf.bytes_in" -> pdfs.map(_.payload.length.toLong).sum.toDouble,
      "pdf.chars_out" -> pdfChars.toDouble,
      "pdf.decode_failures" -> pdfFailures.toDouble,
      "html.extract_p50_us" -> Stats.percentile(htmlUs, 50),
      "html.extract_p99_us" -> Stats.percentile(htmlUs, 99),
      "html.bytes_in" -> htmls.map(_.payload.length.toLong).sum.toDouble,
      "html.chars_out" -> htmlChars.toDouble,
      "html.kept_block_ratio" -> (if (blocks > 0) kept.toDouble / blocks else 0.0),
      "parse.docs_per_s_1t" -> rate1,
      "parse.docs_per_s_nt" -> rateN,
      "parse.scaling_eff" -> (if (rate1 > 0) rateN / (rate1 * cores) else 0.0))
  }

  /** Per-row extraction of every doc on `threads` threads, one buffer set each. */
  private def parallelPass(docs: IndexedSeq[Doc], threads: Int): Long = {
    val next = new AtomicInteger(0)
    val workers = (0 until threads).map(_ => new Thread(() => {
      val buffers = new WorkBuffers()
      var i = next.getAndIncrement()
      while (i < docs.length) {
        val d = docs(i)
        ExtractPipeline.extractOne(d.url, d.payload, "en", "", buffers)
        i = next.getAndIncrement()
      }
    }))
    val t0 = System.nanoTime()
    workers.foreach(_.start())
    workers.foreach(_.join())
    System.nanoTime() - t0
  }
}

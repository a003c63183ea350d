package perfbench

import graft.pipeline.{Corpus, PageRow}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.concurrent.{Executors, TimeUnit}

/** One generated page with its closed-form expected extraction. */
final case class Doc(
    id: Long,
    url: String,
    kind: String,    // "pdf" | "html"
    variant: String, // PDF file-layout variant or HTML dialect
    payload: Array[Byte],
    text: String,    // source text (the page table's ground-truth column)
    expectedText: String,
    expectedTitle: String,
    expectedError: String, // prefix of the row's `error`; "" = must be empty
    slice: Int) {    // docs of every slice but the last are committed before the timed runs
  def row: PageRow = PageRow(url, Workloads.warcTs(id), payload, text, "en")
}

/** The benchmark's inputs, generated from a seed through the public
  * [[Corpus]] generators.
  *
  * Seed-to-seed comparability: every workload keeps its shape fixed — the
  * doc ids (hence urls, PDF variants, HTML dialects and hash partitions) and
  * the size strata — and draws the text and the size within each stratum
  * from the seed. The size quantile of doc k is a fixed permutation of k,
  * so the heavy tail always lands on the same urls and the task skew it
  * causes is the same shape on every seed. */
object Workloads {
  val PdfVariants: IndexedSeq[String] = IndexedSeq("plain", "moves", "tounicode", "rc4",
    "xref_stream", "tm", "incremental", "malformed", "linearized")

  val PdfMixDocs = 800
  val HtmlWebDocs = 1000

  private val Vocab = ("the fast key order sort table scan merge part window small hash " +
    "join batch stream spark data line agg value group query row filter customer " +
    "column vector slow big dup a").split(' ')

  private val Epoch = java.time.Instant.parse("2024-01-01T00:00:00Z")
  def warcTs(id: Long): Timestamp = Timestamp.from(Epoch.plusSeconds(id * 60))

  private def rng(seed: Long, workload: String, k: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ workload.hashCode.toLong * 0xBF58476D1CE4E5B9L ^ k)

  /** Space-separated vocabulary words up to `len` chars; `ampEvery` > 0 puts
    * a bare `&` word in about one word of that many. */
  private def words(r: SplittableRandom, len: Int, ampEvery: Int): String = {
    val sb = new java.lang.StringBuilder(len + 16)
    while (sb.length < len) {
      if (sb.length > 0) sb.append(' ')
      if (ampEvery > 0 && r.nextInt(ampEvery) == 0) sb.append('&')
      else sb.append(Vocab(r.nextInt(Vocab.length)))
    }
    sb.toString
  }

  /** Stratified quantile of doc k: stratum `perm(k)` jittered by the seed. */
  private def quantile(k: Int, n: Int, r: SplittableRandom): Double = {
    require(n % 7919 != 0)
    ((k.toLong * 7919L % n) + r.nextDouble()) / n
  }

  /** pdf_mix payload size: 99% log-uniform in 10–30 KB, 1% 10–20x a 20 KB page. */
  private def pdfBytes(u: Double): Int =
    if (u < 0.99) (10240 * math.pow(3.0, u / 0.99)).toInt
    else (20480 * (10 + 10 * (u - 0.99) / 0.01)).toInt

  /** html_web payload size: log-logistic with median 24 KB and p99 120 KB
    * (shape ln 99 / ln 5), the quantile held to [0.0005, 0.9995], i.e. 1.7
    * to 350 KB. The figures are a guess at crawled-page sizes, fitted to no
    * measurement. */
  private def htmlBytes(u: Double): Int = {
    val v = math.min(math.max(u, 0.0005), 0.9995)
    (24576 * math.pow(v / (1 - v), math.log(5) / math.log(99))).toInt
  }

  /** The malformed variant's wrong first /Length is tolerated (the text
    * still extracts, with no decode failure) and reported in `error`. */
  val MalformedDiagnostic = "Pdf content stream: Length 2 does not point to endstream."

  private def pdfDoc(id: Long, text: String, slice: Int): Doc = {
    val variant = PdfVariants(Corpus.pdfVariant(id))
    Doc(id, Corpus.UrlPrefix + id, "pdf", variant, Corpus.pdfForDoc(id, text), text,
      Corpus.pdfExpectedText(id, text, ""), "",
      if (variant == "malformed") MalformedDiagnostic else "", slice)
  }

  /** HTML page whose text keeps its `&`s bare, as crawled pages do: the
    * generator escapes them to `&amp;`, which is undone here. The expected
    * extraction is the source text, `&` included. */
  private def htmlDoc(id: Long, text: String, bareAmp: Boolean, slice: Int): Doc = {
    val page = Corpus.htmlFromText(text, id)
    val payload = if (bareAmp) new String(page, UTF_8).replace("&amp;", "&").getBytes(UTF_8) else page
    Doc(id, Corpus.UrlPrefix + id, "html", if ((id / 2) % 2 == 1) "numeric_refs" else "plain",
      payload, text, text, s"doc $id", "", slice)
  }

  private def one(name: String, seed: Long, k: Int): Doc = {
    val r = rng(seed, name, k)
    name match {
      case "pdf_mix" =>
        val id = 2L * k // even ids: variant k % 9, so all nine appear equally often
        val u = quantile(k, PdfMixDocs, r)
        // about a tenth is committed before the timed runs, never a tail doc
        val slice = if (k % 10 == 5 && u < 0.99) 0 else 1
        // PDF payloads run ~0.9 bytes per text char
        pdfDoc(id, words(r, (pdfBytes(u) / 0.9).toInt, 0), slice)
      case "html_web" =>
        val id = 2L * k + 1 // odd ids alternate the plain and numeric-reference dialects
        // the numeric-reference dialect spells each vowel as "&#97;": ~2.2 bytes per char
        val perChar = if ((id / 2) % 2 == 1) 2.2 else 1.0
        htmlDoc(id, words(r, (htmlBytes(quantile(k, HtmlWebDocs, r)) / perChar).toInt, 24),
          bareAmp = true, 0)
      case "selftest" =>
        val id = k.toLong // Corpus.pageRowFor's split: even ids PDF, odd ids HTML
        val text = words(r, 200 + r.nextInt(200), 0)
        if (Corpus.isPdfDoc(id)) pdfDoc(id, text, 0) else htmlDoc(id, text, bareAmp = false, 0)
    }
  }

  def size(name: String): Int = name match {
    case "pdf_mix"  => PdfMixDocs
    case "html_web" => HtmlWebDocs
    case "selftest" => 400
  }

  /** All docs of a workload; the same seed gives the same docs whatever the
    * thread count. */
  def generate(name: String, seed: Long, threads: Int): IndexedSeq[Doc] = {
    val n = size(name)
    val out = new Array[Doc](n)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      val futures = (0 until threads).map(_ => pool.submit(new Runnable {
        def run(): Unit = {
          var k = next.getAndIncrement()
          while (k < n) { out(k) = one(name, seed, k); k = next.getAndIncrement() }
        }
      }))
      futures.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    out.toIndexedSeq
  }
}

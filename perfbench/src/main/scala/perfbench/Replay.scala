package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import graft.core._
import graft.html.HtmlBoilerplate
import graft.pipeline.{ExtractJob, Turn}

/** Single-threaded replays of the per-turn layers on a sample of the corpus,
  * timed from outside through the layers' public entry points.
  */
object Replay {
  val MinReplays = 1000

  private def cycle(sample: Array[Turn]): Array[Turn] =
    if (sample.isEmpty) sample
    else Array.tabulate(math.max(MinReplays, sample.length))(i => sample(i % sample.length))

  private def quantile(sorted: Array[Long], q: Double): Long =
    sorted(math.max(0, math.ceil(q * sorted.length).toInt - 1))

  /** `ExtractJob.extractTurn` per kind: replays, p50 and p99 latency; also
    * returns the mean ns per turn.
    */
  def turns(kind: String, sample: Array[Turn]): (Seq[(String, Double, String)], Double) = {
    val all = cycle(sample)
    all.take(200).foreach(ExtractJob.extractTurn)
    val ns = all.map { t =>
      val t0 = System.nanoTime(); ExtractJob.extractTurn(t); System.nanoTime() - t0
    }
    val sorted = ns.sorted
    def q(p: Double) = if (sorted.isEmpty) 0.0 else quantile(sorted, p) / 1e3
    (Seq((s"turn.$kind.n", all.length.toDouble, "count"),
      (s"turn.$kind.p50_us", q(0.5), "us"), (s"turn.$kind.p99_us", q(0.99), "us")),
      if (ns.isEmpty) 0.0 else ns.sum.toDouble / ns.length)
  }

  private def pages(k: PageTreeKid): Seq[PdfPage] = k match {
    case p: PdfPage      => Seq(p)
    case n: PageTreeNode => n.kids.flatMap(pages)
  }

  /** The pdfrust layers of one route, as mean ns per document: base64 decode,
    * open (`Pdf(...)`/`Pdf.lenient`: trim, %%EOF, startxref, xref or
    * `Lenient.prepare`) and `extractResult`, which a second walk over the
    * same document splits into Flate, drained content lexing, text assembly
    * (`TextAssembly.getText` minus its lexing) and the rest (object and page
    * tree parsing). Encrypted documents count in b64/open/extract only: their
    * content streams need the document's private decryptor. Also returns the
    * compressed and decompressed content-stream bytes.
    */
  def core(route: String, sample: Array[Turn], lenient: Boolean)
      : (Seq[(String, Double, String)], Long, Long) = {
    val all = cycle(sample)
    var b64, open, extract, flate, lex, text, other = 0L
    var flateIn, flateOut = 0L
    var split = 0
    all.take(200).foreach(ExtractJob.extractTurn)
    all.foreach { t =>
      val t0 = System.nanoTime()
      val bytes = java.util.Base64.getDecoder.decode(t.text)
      val t1 = System.nanoTime()
      val pdf = if (lenient) Pdf.lenient(bytes) else Pdf(bytes)
      val t2 = System.nanoTime()
      pdf.extractResult(ExtractText)
      val t3 = System.nanoTime()
      b64 += t1 - t0; open += t2 - t1; extract += t3 - t2
      val (body, xref) = if (lenient) Lenient.prepare(bytes) else (bytes, pdf.xref)
      val encrypted = xref match {
        case x: XrefTable => x.encrypt.isDefined
        case _            => false
      }
      if (!encrypted) {
        val ctx = new Ctx(body, xref, lenient)
        val catalog = PdfCatalog.parseAt(ctx, xref.getCatalogOffset.get)
        var f, l, x = 0L
        catalog.pages.toSeq.flatMap(pages).foreach { page =>
          val stream = page.contents.get
          val f0 = System.nanoTime()
          val data = stream.getDataForLexing
          val f1 = System.nanoTime()
          if (stream.dict.filter.contains(FlateDecodeFilter)) {
            f += f1 - f0; flateIn += stream.content.length; flateOut += data.length
          }
          val content = Utf8.lossy(data).getBytes(UTF_8)
          val l0 = System.nanoTime()
          val dec = new ContentDecoder(content)
          while (dec.next() != null) {}
          val l1 = System.nanoTime()
          TextAssembly.getText(content, page.getResources, displayChar = false)
          val x1 = System.nanoTime()
          l += l1 - l0; x += x1 - l1
        }
        flate += f; lex += l; text += math.max(0L, x - l)
        other += math.max(0L, (t3 - t2) - f - x)
        split += 1
      }
    }
    def per(v: Long, n: Int) = if (n == 0) 0.0 else v.toDouble / n
    val n = all.length
    (Seq((s"core.$route.b64_ns", per(b64, n), "ns"), (s"core.$route.open_ns", per(open, n), "ns"),
      (s"core.$route.extract_ns", per(extract, n), "ns"),
      (s"core.$route.flate_ns", per(flate, split), "ns"),
      (s"core.$route.content_lex_ns", per(lex, split), "ns"),
      (s"core.$route.text_ns", per(text, split), "ns"),
      (s"core.$route.other_ns", per(other, split), "ns")), flateIn, flateOut)
  }

  /** `HtmlBoilerplate.extract`: mean ns per turn and input MB/s. */
  def html(sample: Array[Turn]): Seq[(String, Double, String)] = {
    val all = cycle(sample)
    all.take(200).foreach(t => HtmlBoilerplate.extract(t.text))
    var ns, bytes = 0L
    all.foreach { t =>
      val t0 = System.nanoTime(); HtmlBoilerplate.extract(t.text); ns += System.nanoTime() - t0
      bytes += t.text.getBytes(UTF_8).length
    }
    Seq(("html.ns_per_turn", if (all.isEmpty) 0.0 else ns.toDouble / all.length, "ns"),
      ("html.in_mb_per_s", if (ns == 0) 0.0 else bytes / 1e6 / (ns / 1e9), "MB/s"))
  }
}

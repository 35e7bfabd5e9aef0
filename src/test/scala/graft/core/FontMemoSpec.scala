package graft.core

import java.nio.charset.StandardCharsets.ISO_8859_1

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.MiniPdf

/** Each font object is built once per document (the `Ctx.font` memo): every
  * page that names it gets the same `PdfFont` instance at any page count,
  * while the extracted text and the errors stay as they were.
  */
class FontMemoSpec extends AnyFunSuite {

  private def pagesOf(bytes: Array[Byte]): Seq[PdfPage] = {
    val xref = Pdf(bytes).xref
    val catalog = PdfCatalog.parseAt(new Ctx(bytes, xref), xref.getCatalogOffset.get)
    def walk(k: PageTreeKid): Seq[PdfPage] = k match {
      case p: PdfPage      => Seq(p)
      case n: PageTreeNode => n.kids.flatMap(walk)
    }
    walk(catalog.pages.get)
  }

  private def f1Fonts(bytes: Array[Byte]): Seq[PdfFont] =
    pagesOf(bytes).map(_.getResources.font.get.fonts("F1"))

  /** Classic-xref document of `objects` (object i + 1 at index i), Root 1 0 R. */
  private def assemble(objects: Seq[String]): Array[Byte] = {
    val sb = new StringBuilder("%PDF-1.4\n")
    val offsets = objects.zipWithIndex.map { case (body, i) =>
      val off = sb.length
      sb.append(s"${i + 1} 0 obj\n$body\nendobj\n")
      off
    }
    val xrefOff = sb.length
    sb.append(s"xref\n0 ${objects.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(off => sb.append(f"$off%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size ${objects.length + 1} /Root 1 0 R >>\n")
    sb.append(s"startxref\n$xrefOff\n%%EOF")
    sb.toString.getBytes(ISO_8859_1)
  }

  private def stream(s: String) = s"<< /Length ${s.length} >>\nstream\n$s\nendstream"

  /** Three pages sharing one /Resources object whose F1 carries `/ToUnicode
    * toUnicodeObj 0 R`; each page shows `<41><42>` through the CMap, which
    * maps 0x41 -> 'x' and 0x42 -> 'y'.
    */
  private def sharedResources(toUnicodeObj: Int): Array[Byte] = {
    val cmap = "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
      "1 begincodespacerange\n<00> <FF>\nendcodespacerange\n" +
      "2 beginbfchar\n<41> <0078>\n<42> <0079>\nendbfchar\nendcmap\nend\nend"
    assemble(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R 4 0 R 5 0 R] /Count 3 >>") ++
      (0 until 3).map(i => s"<< /Type /Page /Parent 2 0 R /Resources 6 0 R /Contents ${7 + i} 0 R >>") ++
      Seq("<< /Font << /F1 10 0 R >> >>") ++
      Seq.fill(3)(stream("BT\n/F1 12 Tf\n[<41> -250 <42>] TJ\nET\n")) ++
      Seq(s"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /ToUnicode $toUnicodeObj 0 R >>",
        stream(cmap)))
  }

  for (n <- Seq(2, 32)) {
    test(s"$n pages with inline /Resources share one F1 font") {
      // ten chars per page, one page per chunk; no chunk starts with ' '/'\n'
      val chunks = (0 until n).map(i => f"page-$i%04d ")
      val bytes = MiniPdf.synthesizeMultiPage(chunks.mkString, 10)
      val fonts = f1Fonts(bytes)
      assert(fonts.length == n)
      assert(fonts.forall(_ eq fonts.head), "every page must get the same PdfFont instance")
      assert(Pdf(bytes).extract(ExtractText) == chunks.mkString("\n"))
    }
  }

  test("pages sharing one /Resources ref share one F1 font and its CMap") {
    val bytes = sharedResources(toUnicodeObj = 11)
    val fonts = f1Fonts(bytes)
    assert(fonts.length == 3)
    assert(fonts.forall(_ eq fonts.head))
    assert(fonts.head.toUnicode.isDefined)
    assert(Pdf(bytes).extract(ExtractText) == "xy\nxy\nxy")
  }

  test("a shared font whose /ToUnicode ref is missing from the xref still fails") {
    val bytes = sharedResources(toUnicodeObj = 99)
    val e = intercept[PdfParseException](Pdf(bytes).extractResult(ExtractText))
    assert(e.getMessage == "ToUnicode stream object not found in xref table")
  }
}

package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.pipeline.{GenRow, MiniPdf, SynthGen}

/** Seeded draws: every value is a pure function of the seed and the row. */
final class Draw(seed: Long) {
  private var h = SynthGen.mix(seed)
  def next(): Long = { h = SynthGen.mix(h); h }
  def int(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
  def unit(): Double = (next() >>> 11) * (1.0 / (1L << 53))
  def gauss(): Double = math.sqrt(-2 * math.log(1 - unit())) * math.cos(2 * math.Pi * unit())
}

/** The PDF-heavy part of the extraction corpus (`extract_pdf` on its own).
  * Every document's expected text is known by construction, so the golden
  * needs no engine output.
  */
object PdfCorpus {
  val StrictRoute = "pdf-b64"
  val LenientRoute = "pdf-b64-lenient"

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6)
    d.setInput(b); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def cmapStream(twoByte: Boolean): String = {
    val (range, bf) =
      if (twoByte) ("<0000> <FFFF>", "<0120> <017E> <0020>") else ("<00> <FF>", "<A0> <FE> <0020>")
    "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
      s"1 begincodespacerange\n$range\nendcodespacerange\n" +
      s"1 beginbfrange\n$bf\nendbfrange\nendcmap\nend\nend"
  }

  /** A shown string in font `f`: F1 shows bytes as chars, F2 maps one-byte
    * codes c+0x80 back to c through its CMap, F3 maps two-byte codes 0x0100+c.
    */
  private def encode(s: String, f: Int): String = f match {
    case 0 => "(" + MiniPdf.escapeLiteral(s) + ")"
    case 1 => s.map(c => f"${c + 0x80}%02X").mkString("<", "", ">")
    case _ => s.map(c => f"${c + 0x100}%04X").mkString("<", "", ">")
  }

  /** Flate-compressed multi-page document: every line is a TJ array with
    * kerning, in one of three fonts (plain, one-byte and two-byte ToUnicode
    * CMap). Kerning moves no text, each new line changes ty (a newline), and
    * pages join with a newline, so the expected text is the lines joined by
    * newlines.
    */
  def multiPage(seed: Long): (Array[Byte], String) = {
    val d = new Draw(seed)
    val pages = Seq.fill(2 + d.int(3)) {
      val sb = new StringBuilder("BT\n50 760 Td\n")
      val lines = Seq.fill(12 + d.int(9)) {
        val words = SynthGen.prose(d.next(), 3, 5).split(' ')
        val f = d.int(3)
        val cut = 1 + d.int(words.length - 1)
        sb.append(s"/F${f + 1} 10 Tf\n[")
          .append(encode(words.take(cut).mkString("", " ", " "), f))
          .append(s" ${d.int(400) - 200} ")
          .append(encode(words.drop(cut).mkString(" "), f))
          .append("] TJ\n0 -12 Td\n")
        words.mkString(" ")
      }
      sb.append("ET\n")
      (deflate(sb.toString.getBytes(ISO_8859_1)), lines.mkString("\n"))
    }
    val n = pages.length
    val res = 3 + 2 * n
    val widths = Seq.tabulate(95)(i => 250 + (i * 37) % 400).mkString(" ")
    val objects: Seq[Either[String, (String, Array[Byte])]] =
      Seq(Left("<< /Type /Catalog /Pages 2 0 R >>"),
        Left(s"<< /Type /Pages /Kids [${(0 until n).map(i => s"${3 + i} 0 R").mkString(" ")}] /Count $n >>")) ++
      (0 until n).map(i =>
        Left(s"<< /Type /Page /Parent 2 0 R /Resources $res 0 R /Contents ${3 + n + i} 0 R >>")) ++
      pages.map(p => Right(("/Filter /FlateDecode", p._1))) ++ Seq(
        Left(s"<< /Font << /F1 ${res + 1} 0 R /F2 ${res + 2} 0 R /F3 ${res + 3} 0 R >> >>"),
        Left(s"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /FirstChar 32 /LastChar 126 /Widths [$widths] >>"),
        Left(s"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /ToUnicode ${res + 4} 0 R >>"),
        Left(s"<< /Type /Font /Subtype /Type0 /BaseFont /Helvetica /ToUnicode ${res + 5} 0 R >>"),
        Right(("/Filter /FlateDecode", deflate(cmapStream(twoByte = false).getBytes(ISO_8859_1)))),
        Right(("/Filter /FlateDecode", deflate(cmapStream(twoByte = true).getBytes(ISO_8859_1)))),
        Left("<< /Title (perfbench) /Author (graft) /Creator (perfbench) >>"))
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    w("%PDF-1.4\n")
    val offsets = objects.zipWithIndex.map { case (o, i) =>
      val off = out.size()
      w(s"${i + 1} 0 obj\n")
      o match {
        case Left(body) => w(body)
        case Right((dict, data)) =>
          w(s"<< /Length ${data.length} $dict >>\nstream\n"); out.write(data); w("\nendstream")
      }
      w("\nendobj\n")
      off
    }
    val xrefOff = out.size()
    w(s"xref\n0 ${objects.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(off => w(f"$off%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${objects.length + 1} /Root 1 0 R /Info ${objects.length} 0 R >>\n")
    w(s"startxref\n$xrefOff\n%%EOF")
    (out.toByteArray, pages.map(_._2).mkString("\n"))
  }

  /** Lenient-route document: a single page behind an xref stream, an object
    * stream, or RC4/AES encryption. The text round-trips exactly.
    */
  def lenient(seed: Long): (Array[Byte], String) = {
    val d = new Draw(seed)
    val text = SynthGen.prose(d.next(), 60, 60)
    val bytes = d.int(5) match {
      case 0 => MiniPdf.synthesizeXrefStream(text)
      case 1 => MiniPdf.synthesizeObjStm(text)
      case 2 => MiniPdf.synthesizeEncrypted(text, r = 2)
      case 3 => MiniPdf.synthesizeEncrypted(text, r = 3)
      case _ => MiniPdf.synthesizeEncrypted(text, r = 4)
    }
    (bytes, text)
  }

  /** Poison payload that must land in the `error` column: a truncated file,
    * bytes that are not base64, or a document with no xref table.
    */
  def poison(seed: Long): String = {
    val d = new Draw(seed)
    val (doc, _) = multiPage(d.next())
    val b64 = java.util.Base64.getEncoder
    d.int(3) match {
      case 0 => b64.encodeToString(java.util.Arrays.copyOf(doc, doc.length - 40))
      case 1 => "%%not base64%%" + b64.encodeToString(doc).take(64)
      case _ =>
        val s = new String(doc, ISO_8859_1)
        val at = s.lastIndexOf("xref\n0 ")
        b64.encodeToString((s.take(at) + "junk" + s.drop(at + 4)).getBytes(ISO_8859_1))
    }
  }

  /** `nConvs` conversations of 1 to 7 turns: ~85% strict multi-page
    * documents, ~14% lenient-route documents, ~1% poison.
    */
  def generate(spark: SparkSession, nConvs: Int, seed: Long): Dataset[GenRow] = {
    import spark.implicits._
    val base = 1767225600000L
    spark.range(0, nConvs.toLong, 1, math.max(8, nConvs / 256)).as[Long].flatMap { conv =>
      val nTurns = 1 + new Draw(seed ^ SynthGen.mix(conv)).int(7)
      (0 until nTurns).iterator.map { t =>
        val h = SynthGen.mix(seed ^ SynthGen.mix(conv * 1000003L + t))
        val roll = java.lang.Long.remainderUnsigned(h, 100L).toInt
        val ts = new Timestamp(base + (conv * 60L + t) * 1000L)
        val convId = f"pdf-$conv%06d"
        def row(text: String, tool: String, expected: String, gate: String) =
          GenRow(convId, t, if (t % 2 == 0) "user" else "tool", text, tool, ts, expected, gate)
        if (roll < 1) row(poison(h), StrictRoute, null, "error")
        else if (roll < 15) {
          val (doc, text) = lenient(h)
          row(java.util.Base64.getEncoder.encodeToString(doc), LenientRoute, text, "exact")
        } else {
          val (doc, text) = multiPage(h)
          row(java.util.Base64.getEncoder.encodeToString(doc), StrictRoute, text, "exact")
        }
      }
    }
  }
}

final case class Region(r_regionkey: Int, r_name: String)
final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int, c_acctbal: Double,
    c_mktsegment: String)
final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int, s_acctbal: Double)
final case class Part(p_partkey: Long, p_name: String, p_brand: String, p_type: String,
    p_size: Int, p_retailprice: Double)
final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
    l_quantity: Double, l_extendedprice: Double, l_discount: Double, l_tax: Double,
    l_returnflag: String, l_linestatus: String, l_shipdate: Timestamp)
final case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
    value: Double, props: String)
final case class Document(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class Embedding(vec_id: Long, embedding: Seq[Float], label: Int)

/** The ten tables the 95 queries read, in the shape and value ranges of the
  * TPC-H-like test data: a star schema, an event stream, documents drawn from
  * the transcript vocabulary (with planted exact and near duplicates) and
  * unit-length 64-d embeddings clustered by label.
  */
object QueryTables {
  val Names = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  private def money(x: Double): Double = math.round(x * 100) / 100.0
  private val Day = 86400000L
  private val Epoch1995 = 788918400000L // 1995-01-01
  private val Epoch2024 = 1704067200000L // 2024-01-01

  /** Writes the tables, `threads` at a time. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long, threads: Int): Unit = {
    import spark.implicits._
    def n(perSf: Double, floor: Int = 1): Long = math.max(floor.toLong, math.round(perSf * sf))
    val writes = ArrayBuffer[() => Unit]()
    def rows[T: org.apache.spark.sql.Encoder](name: String, count: Long)(f: (Long, Draw) => T): Unit =
      writes += (() => spark.range(0, count, 1, math.max(1, math.min(8, (count / 20000).toInt + 1)))
        .as[Long]
        .map(i => f(i, new Draw(seed ^ SynthGen.mix(name.hashCode.toLong * 1000003L + i))))
        .write.mode("overwrite").parquet(s"$dir/$name.parquet"))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000); val nOrd = n(1500000)
    val nUsers = n(150000); val nEvents = n(1000000)
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val colors = Array("blue", "cold", "hot", "large", "new", "red", "small", "green")
    val nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val evTypes = Array("click", "error", "purchase", "signup", "view")
    val langs = Array("de", "es", "fr", "zh")
    val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

    rows("region", 5)((i, _) => Region(i.toInt, regions(i.toInt)))
    rows("nation", 25)((i, _) => Nation(i.toInt, s"NATION_$i", i.toInt % 5))
    rows("customer", nCust)((i, d) => Customer(i, f"Customer#$i%09d", d.int(25),
      money(-999.99 + d.unit() * 10999.98), segments(d.int(5))))
    rows("supplier", nSupp)((i, d) => Supplier(i, f"Supplier#$i%09d", d.int(25),
      money(-999.99 + d.unit() * 10999.98)))
    rows("part", nPart)((i, d) => Part(i, s"${colors(d.int(8))} ${nouns(d.int(8))}",
      s"Brand#${1 + d.int(25)}", types(d.int(6)), 1 + d.int(50), 900.0 + (i % 1000) / 10.0))
    rows("orders", nOrd)((i, d) => Order(i, d.int(nCust.toInt).toLong, "FOP".charAt(d.int(3)).toString,
      money(1000 + d.unit() * 499000), new Timestamp(Epoch1995 + d.int(2404) * Day),
      prios(d.int(5))))
    rows("lineitem", n(6000000))((_, d) => {
      val qty = (1 + d.int(50)).toDouble
      LineItem(d.int(nOrd.toInt).toLong, d.int(nPart.toInt).toLong, d.int(nSupp.toInt).toLong,
        1 + d.int(7), qty, money(qty * (900 + d.unit() * 1200)), d.int(11) / 100.0,
        d.int(9) / 100.0, "ANR".charAt(d.int(3)).toString, "FO".charAt(d.int(2)).toString,
        new Timestamp(Epoch1995 + (1 + d.int(2499)) * Day))
    })
    val step = 30 * Day * 1000 / nEvents // microseconds between events
    rows("events", nEvents)((i, d) => Event(i,
      { val us = i * step + d.int(step.toInt)
        val t = new Timestamp(Epoch2024 + us / 1000)
        t.setNanos(t.getNanos + (us % 1000).toInt * 1000); t },
      d.int(nUsers.toInt).toLong, evTypes(d.int(5)), money(-50 * math.log(1 - d.unit()) + 0.01),
      s"""{"k": ${d.int(100)}}"""))
    val nDocs = n(50000, 500)
    // docs 3% exact and 3% near duplicates of an earlier doc; text is a pure
    // function of the source doc, so duplicates need no lookup
    def docText(i: Long): String =
      SynthGen.prose(SynthGen.mix(seed * 31 + i), 8, 80)
    rows("documents", nDocs)((i, d) => {
      val roll = d.int(100)
      val src = if (i > 0 && roll < 6) d.int(i.toInt).toLong else i
      val base = docText(src)
      val text = if (roll >= 3 && roll < 6) base.substring(0, base.lastIndexOf(' ')) + " token" else base
      Document(i, text, if (d.int(100) < 44) "en" else langs(d.int(4)), s"src${i % 20}",
        text.length.toLong)
    })
    val centers = Array.tabulate(10, 64)((c, j) => new Draw(seed * 7919 + c * 64 + j).gauss())
    rows("embeddings", n(20000, 500))((i, d) => {
      val label = d.int(10)
      val v = Array.tabulate(64)(j => centers(label)(j) * 0.6 + d.gauss())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Embedding(i, v.map(x => (x / norm).toFloat).toSeq, label)
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try writes.map(w => pool.submit(new Runnable { def run(): Unit = w() })).foreach(_.get())
    finally pool.shutdown()
  }
}

package graft.core

import java.util.Arrays
import scala.collection.mutable.ArrayBuffer

/** Extraction modes — lib.rs:16-21. */
sealed trait ExtractMode
case object ExtractText extends ExtractMode
case object ExtractChars extends ExtractMode
case object ExtractFont extends ExtractMode
case object ExtractRawContent extends ExtractMode

/** Character-offset span of one text-showing instruction in the final extracted
  * string — engine addition required by the north star (no reference counterpart;
  * definition per SURVEY §7.5).
  */
final case class Span(op: String, start: Int, end: Int)

/** Extraction result: the reference's output string plus our span sidecar. */
final case class ExtractResult(text: String, spans: Vector[Span]) {
  def shift(by: Int): ExtractResult =
    ExtractResult(text, spans.map(s => Span(s.op, s.start + by, s.end + by)))
}

object ExtractResult {
  def plain(text: String): ExtractResult = ExtractResult(text, Vector.empty)

  /** Page outputs joined with "\n" at every tree level — body.rs:413-419. */
  def joinNewline(parts: Seq[ExtractResult]): ExtractResult = {
    val sb = new StringBuilder
    val spans = Vector.newBuilder[Span]
    var first = true
    parts.foreach { p =>
      if (!first) sb.append('\n')
      first = false
      val off = sb.length
      sb.append(p.text)
      p.spans.foreach(s => spans += Span(s.op, s.start + off, s.end + off))
    }
    ExtractResult(sb.toString, spans.result())
  }
}

/** TJ array element — content.rs:23-27. */
sealed trait ArrayVal
final class AText(val bytes: Array[Byte]) extends ArrayVal {
  override def equals(o: Any): Boolean = o match {
    case t: AText => Arrays.equals(bytes, t.bytes)
    case _        => false
  }
  override def hashCode: Int = Arrays.hashCode(bytes)
  override def toString: String = s"AText(${bytes.mkString(",")})"
}
object AText { def apply(b: Array[Byte]) = new AText(b) }
final case class APos(n: Num) extends ArrayVal

/** Content-stream instructions — content.rs:46-98. */
sealed trait GInstr
case object ILowerQ extends GInstr
case object IUpperQ extends GInstr
case object IBDC extends GInstr
case object IBMC extends GInstr
case object IEMC extends GInstr
final case class ICm(a: Num, b: Num, c: Num, d: Num, e: Num, f: Num) extends GInstr
final case class ILowerW(w: Num) extends GInstr
final case class IUpperJ(j: Num) extends GInstr
final case class ILowerD(arr: Vector[Num], phase: Num) extends GInstr
final case class ILowerI(i: Num) extends GInstr
case object IGs extends GInstr
final case class ILowerM(x: Num, y: Num) extends GInstr
final case class ILowerL(x: Num, y: Num) extends GInstr
final case class ILowerC(x1: Num, y1: Num, x2: Num, y2: Num, x3: Num, y3: Num) extends GInstr
case object ILowerH extends GInstr
final case class IRe(x: Num, y: Num, w: Num, h: Num) extends GInstr
case object IW extends GInstr
case object IWStar extends GInstr
case object IS extends GInstr
case object ILowerF extends GInstr
case object ILowerFStar extends GInstr
case object IN extends GInstr
final case class ICs(name: String) extends GInstr
final case class ISc(n: Num) extends GInstr
final case class IUpperG(g: Num) extends GInstr
final case class ILowerG(g: Num) extends GInstr
final case class IRGOp(r: Num, g: Num, b: Num) extends GInstr
final case class IRgOp(r: Num, g: Num, b: Num) extends GInstr
final case class ITdOp(tx: Num, ty: Num) extends GInstr
final case class ITDOp(tx: Num, ty: Num) extends GInstr
final case class ITm(a: Num, b: Num, c: Num, d: Num, e: Num, f: Num) extends GInstr
case object ITStar extends GInstr
final case class ITc(n: Num) extends GInstr
final case class ITf(font: String, size: Num) extends GInstr
final case class ITr(n: Num) extends GInstr
final class ITjOp(val bytes: Array[Byte]) extends GInstr {
  override def equals(o: Any): Boolean = o match {
    case t: ITjOp => Arrays.equals(bytes, t.bytes)
    case _      => false
  }
  override def hashCode: Int = Arrays.hashCode(bytes)
  override def toString: String = s"ITjOp(${bytes.mkString(",")})"
}
object ITjOp { def apply(b: Array[Byte]) = new ITjOp(b) }
final case class ITJOp(items: Vector[ArrayVal]) extends GInstr
case object IBeginText extends GInstr
case object IEndText extends GInstr
final case class IDo(name: String) extends GInstr

// Lenient-TEXT extension instructions (reference unknown-op path,
// content.rs:624-628; reachable only with the lenientText flag):
final case class ITw(n: Num) extends GInstr
final case class ITz(n: Num) extends GInstr
final case class ITL(n: Num) extends GInstr
final case class ITs(n: Num) extends GInstr
/** `'` — move to next line (T* semantics) and show byte-as-char like Tj. */
final class IQuoteOp(val bytes: Array[Byte]) extends GInstr {
  override def toString: String = s"IQuoteOp(${bytes.mkString(",")})"
}
/** `"` — aw ac string: set word/char spacing, then behave like `'`. */
final class IDblQuoteOp(val aw: Num, val ac: Num, val bytes: Array[Byte]) extends GInstr {
  override def toString: String = s"IDblQuoteOp($aw,$ac,${bytes.mkString(",")})"
}

/** Text state — content.rs:638-665. Tw/Tz/TL/Ts are NOT implemented by the reference
  * (they hit the unknown-operator path), so in strict mode tw stays 0 forever;
  * the lenientText decoder extension writes them (trise is its Ts register —
  * tracked state only, no output effect in text extraction).
  */
final class TextState {
  var tc: Num = NInt(0)
  var tw: Num = NInt(0)
  var th: Num = NReal(1.0f)
  var tl: Num = NInt(0)
  var trise: Num = NInt(0)
  var tf: Option[String] = None
  var tfs: Option[Num] = None
  var tmode: Num = NInt(0)
  def copyOf: TextState = {
    val t = new TextState
    t.tc = tc; t.tw = tw; t.th = th; t.tl = tl; t.trise = trise
    t.tf = tf; t.tfs = tfs; t.tmode = tmode
    t
  }
}

/** Graphics state — content.rs:667-717. */
final class GraphicsState {
  var ctm: Mat = Mat.identity
  var textState: TextState = new TextState
  var lineWidth: Num = NReal(1.0f)
  var lineCap: Num = NInt(0)
  var flatness: Num = NReal(1.0f)
  def copyOf: GraphicsState = {
    val g = new GraphicsState
    g.ctm = ctm; g.textState = textState.copyOf; g.lineWidth = lineWidth
    g.lineCap = lineCap; g.flatness = flatness
    g
  }
}

/** Content-stream instruction decoder + state machine — content.rs:100-635.
  *
  * Replicated quirks:
  *  - operand buffer is NOT cleared after an unknown operator (content.rs:624-628
  *    falls through without returning, retaining `buf`);
  *  - `Td` with operand count != 2 is skipped entirely (content.rs:507-509);
  *  - `cm` REPLACES the CTM instead of premultiplying (content.rs:134-136);
  *  - inline dictionaries are skipped wholesale (content.rs:234-241);
  *  - comments inside content panic (content.rs:630) — the raw tokenizer (not the
  *    Lemmatizer) feeds this decoder, so Token::Comment reaches the catch-all.
  */
final class ContentDecoder(bytes: Array[Byte], lenientText: Boolean = false) {
  val tok = new PdfTokenizer(bytes, 0)
  var graphicState: GraphicsState = new GraphicsState
  val stack: ArrayBuffer[GraphicsState] = ArrayBuffer.empty
  var tm: Mat = Mat.identity
  var tlm: Mat = Mat.identity

  private def processTd(tx: Num, ty: Num): Unit = {
    tlm = Mat(1.0f, 0.0f, 0.0f, 1.0f, tx.toF, ty.toF) * tlm
    tm = tlm
  }

  def next(): GInstr = {
    val buf = ArrayBuffer.empty[Tok]

    // the reference indexes buf[i] directly and PANICS when an operator
    // arrives with too few operands (Rust index-out-of-bounds); map that
    // panic to PdfParseException like every other panic site — a raw
    // IndexOutOfBoundsException here would escape the per-row error
    // discipline (found by the round-6 byte-mutation differential fuzz)
    def tokAt(i: Int, op: String): Tok =
      if (i < buf.length) buf(i)
      else Err.fail(s"Operator $op expects operand ${i + 1}, buffer holds ${buf.length}")
    def num(i: Int, op: String): Num = tokAt(i, op) match {
      case TNum(n) => n
      case t       => Err.fail(s"Operand $t is not allowed with operator $op")
    }
    def name(i: Int, op: String): String = tokAt(i, op) match {
      case TName(n) => n
      case t        => Err.fail(s"Operand $t is not allowed with operator $op")
    }

    var t = tok.next()
    while (t != null) {
      t match {
        case _: TLit | _: TName | TArrayBegin | TArrayEnd | _: THex | TNum(_) =>
          buf += t
        case TDictBegin =>
          var d = tok.next()
          while (d != null && d != TDictEnd) d = tok.next()
        case bare: TBare =>
          val op = new String(bare.bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
          op match {
            case "q" =>
              stack += graphicState.copyOf
              return ILowerQ
            case "Q" =>
              if (stack.isEmpty) Err.fail("Unable to restore graphic state from empty stack")
              graphicState = stack.remove(stack.length - 1)
              return IUpperQ
            case "cm" =>
              val (a, b, c, d, e, f) =
                (num(0, "re"), num(1, "re"), num(2, "re"), num(3, "re"), num(4, "re"), num(5, "re"))
              graphicState.ctm = Mat.of(Array(a, b, c, d, e, f))
              return ICm(a, b, c, d, e, f)
            case "w" =>
              val lw = num(0, "J"); graphicState.lineWidth = lw; return ILowerW(lw)
            case "J" =>
              val lc = num(0, "J"); graphicState.lineCap = lc; return IUpperJ(lc)
            case "d" =>
              val it = buf.iterator
              if (!it.hasNext) Err.fail("End of stream too early")
              it.next() match {
                case TArrayBegin => ()
                case x           => Err.fail(s"First operand $x is not allowed for operator d")
              }
              val arr = Vector.newBuilder[Num]
              var inArr = true
              while (inArr) {
                if (!it.hasNext) inArr = false
                else it.next() match {
                  case TNum(n)   => arr += n
                  case TArrayEnd => inArr = false
                  case x         => Err.fail(s"Unexpected token $x in dash array")
                }
              }
              val phase = if (it.hasNext) it.next() match {
                case TNum(n) => n
                case x       => Err.fail(s"First operand $x is not allowed for operator d")
              } else Err.fail("End of stream too early")
              return ILowerD(arr.result(), phase)
            case "i" =>
              val fl = num(0, "re"); graphicState.flatness = fl; return ILowerI(fl)
            case "gs" =>
              name(0, "gs"); return IGs
            case "m" => return ILowerM(num(0, "re"), num(1, "re"))
            case "l" => return ILowerL(num(0, "re"), num(1, "re"))
            case "c" =>
              return ILowerC(num(0, "Tm"), num(1, "Tm"), num(2, "Tm"), num(3, "Tm"), num(4, "Tm"), num(5, "Tm"))
            case "h"  => return ILowerH
            case "re" => return IRe(num(0, "re"), num(1, "re"), num(2, "re"), num(3, "re"))
            case "W"  => return IW
            case "W*" => return IWStar
            case "S"  => return IS
            case "f"  => return ILowerF
            case "f*" => return ILowerFStar
            case "n"  => return IN
            case "cs" => return ICs(name(0, "cs"))
            case "sc" => return ISc(num(0, "cs"))
            case "G"  => return IUpperG(num(0, "G"))
            case "g"  => return ILowerG(num(0, "G"))
            case "RG" => return IRGOp(num(0, "rg"), num(1, "rg"), num(2, "rg"))
            case "rg" => return IRgOp(num(0, "rg"), num(1, "rg"), num(2, "rg"))
            case "BT" =>
              tm = Mat.identity; tlm = Mat.identity
              return IBeginText
            case "ET" => return IEndText
            case "TD" =>
              val (tx, ty) = (num(0, "TD"), num(1, "TD"))
              graphicState.textState.tl = -ty
              processTd(tx, ty)
              return ITDOp(tx, ty)
            case "Td" =>
              if (buf.length != 2) return next() // arity guard — content.rs:507-509
              val (tx, ty) = (num(0, "TD"), num(1, "TD"))
              processTd(tx, ty)
              return ITdOp(tx, ty)
            case "Tc" =>
              val cs = num(0, "TD"); graphicState.textState.tc = cs; return ITc(cs)
            case "Tf" =>
              val font = name(0, "TD")
              val size = num(1, "TD")
              graphicState.textState.tf = Some(font)
              graphicState.textState.tfs = Some(size)
              return ITf(font, size)
            case "Tr" =>
              val r = num(0, "Tr"); graphicState.textState.tmode = r; return ITr(r)
            case "Tm" =>
              val (a, b, c, d, e, f) =
                (num(0, "Tm"), num(1, "Tm"), num(2, "Tm"), num(3, "Tm"), num(4, "Tm"), num(5, "Tm"))
              tm = Mat.of(Array(a, b, c, d, e, f))
              tlm = Mat.of(Array(a, b, c, d, e, f))
              return ITm(a, b, c, d, e, f)
            case "T*" =>
              processTd(NInt(0), graphicState.textState.tl)
              return ITStar
            case "Tj" =>
              tokAt(0, "Tj") match {
                case l: TLit => return ITjOp(l.bytes)
                case x       => Err.fail(s"Operand $x is not allowed with operator Tj")
              }
            case "TJ" =>
              return ITJOp(buf.iterator.collect {
                case l: TLit => AText(l.bytes)
                case h: THex => AText(h.bytes)
                case TNum(n) => APos(n)
              }.toVector)
            case "Do" =>
              tokAt(0, "Do") match {
                case TName(n) => return IDo(n)
                case x        => Err.fail(s"Operand $x is not allowed with operator Do")
              }
            case "BDC" => return IBDC
            case "BMC" => return IBMC
            case "EMC" => return IEMC
            // ---- lenient-TEXT extension (flag-gated; strict falls through to
            // the reference's unknown-op path below). `'`/`"` reuse the
            // engine's existing T* convention (processTd(0, tl)) — the ty
            // SIGN follows T*'s replicated quirk, which is output-identical
            // because newline inference keys on ty inequality, not direction.
            case "Tw" if lenientText =>
              val w = num(0, "Tw"); graphicState.textState.tw = w; return ITw(w)
            case "Tz" if lenientText =>
              val z = num(0, "Tz")
              graphicState.textState.th = NReal(z.toF / 100.0f)
              return ITz(z)
            case "TL" if lenientText =>
              val l = num(0, "TL"); graphicState.textState.tl = l; return ITL(l)
            case "Ts" if lenientText =>
              val r = num(0, "Ts"); graphicState.textState.trise = r; return ITs(r)
            case "'" if lenientText =>
              val b = tokAt(0, "'") match {
                case l: TLit => l.bytes
                case x       => Err.fail(s"Operand $x is not allowed with operator '")
              }
              processTd(NInt(0), graphicState.textState.tl)
              return new IQuoteOp(b)
            case "\"" if lenientText =>
              val (aw, ac) = (num(0, "\""), num(1, "\""))
              val b = tokAt(2, "\"") match {
                case l: TLit => l.bytes
                case x       => Err.fail(s"Operand $x is not allowed with operator \"")
              }
              graphicState.textState.tw = aw
              graphicState.textState.tc = ac
              processTd(NInt(0), graphicState.textState.tl)
              return new IDblQuoteOp(aw, ac, b)
            case _ =>
              // unknown operator: diagnostic only, operand buffer retained —
              // content.rs:624-628
              ()
          }
        case other =>
          Err.fail(s"Pdf token $other has no mapping implemented to ContentStream")
      }
      t = tok.next()
    }
    null
  }
}

/** Text assembly — `TextContent::get_text`, content.rs:719-951. The correctness
  * heart: only Tj/TJ emit output; a newline is inferred when the f32 ty of the text
  * matrix changed since the previous show; Tj ignores the CMap (bytes as chars) while
  * TJ applies it; leading '\n'/' ' trimmed per page.
  */
object TextAssembly {

  def getText(contentBytes: Array[Byte], resources: PdfResources, displayChar: Boolean,
              lenientText: Boolean = false): ExtractResult = {
    val content = new ContentDecoder(contentBytes, lenientText)
    val out = new StringBuilder
    val spans = Vector.newBuilder[Span]
    var tmPrev = content.tm

    def lookupFont(): PdfFont = content.graphicState.textState.tf match {
      case Some(s) => resources.font match {
        case Some(fm) => fm.fonts.getOrElse(s, Err.fail(s"Fontmap does not contain font $s"))
        case None     => Err.fail(s"Fontmap does not contains the font name $s")
      }
      case None => Err.fail("Text state should have a font set")
    }

    def charsFormat(c: Char, font: PdfFont): String =
      s"${rustCharDebug(c)}, ${rustStrDebug(font.subtype)}, ${rustStrDebug(font.baseFont)}, ${content.tm.display}\n"

    def tfsOrFail(): Num = content.graphicState.textState.tfs match {
      case Some(n) => n
      case None    => Err.fail("Font size should be set before painting a glyph")
    }

    /** Glyph advance — content.rs:836-855 / 874-911. Specialized to primitive
      * f32 with the IDENTICAL operation order as the Num-algebra path: w0 is
      * always Real (width division / 0.0 fallback), so every add and multiply
      * takes the Real branch = plain f32 ops on .toF operands. Verified byte-exact by
      * the fixture goldens; saves ~6 allocations per shown glyph.
      */
    def advance(font: PdfFont, c: Int): Unit = {
      val w0f = font.widthTableF(c & 0xff)
      val tfs = tfsOrFail()
      val ts = content.graphicState.textState
      var tx = w0f * tfs.toF
      tx = tx + ts.tc.toF
      if (c == ' '.toInt) tx = tx + ts.tw.toF
      tx = tx * ts.th.toF
      content.tm = Mat(1.0f, 0.0f, 0.0f, 1.0f, tx, 0.0f) * content.tm
    }

    // Tj-style show: byte-as-char, CMap IGNORED — content.rs:752-765. Shared by
    // Tj and the lenient-text `'`/`"` shows (whose line move already happened
    // inside the decoder, so the ty-change newline check below fires for them).
    def showRaw(bytes: Array[Byte], opName: String): Unit = {
      val font = lookupFont()
      if (content.tm.ty != tmPrev.ty) out.append('\n')
      tmPrev = content.tm
      val spanStart = out.length
      var i = 0
      while (i < bytes.length) {
        val c = (bytes(i) & 0xff).toChar
        if (displayChar) out.append(charsFormat(c, font))
        else out.append(c)
        i += 1
      }
      if (!displayChar) spans += Span(opName, spanStart, out.length)
    }

    var instr = content.next()
    while (instr != null) {
      instr match {
        case tj: ITjOp => showRaw(tj.bytes, "Tj")

        case q: IQuoteOp     => showRaw(q.bytes, "'")
        case dq: IDblQuoteOp => showRaw(dq.bytes, "\"")

        case ITJOp(items) =>
          val font = lookupFont()
          if (content.tm.ty != tmPrev.ty) out.append('\n')
          tmPrev = content.tm
          val spanStart = out.length
          items.foreach {
            case at: AText =>
              font.toUnicode match {
                case Some(cm) =>
                  // CMap'd path — content.rs:789-856
                  var i = 0
                  while (i < at.bytes.length) {
                    val c = at.bytes(i) & 0xff
                    val charIdx =
                      if (cm.isTwoBytes) {
                        if (i + 1 >= at.bytes.length) Err.fail("two-byte cmap index missing second byte")
                        val second = at.bytes(i + 1) & 0xff
                        i += 1
                        c * 256 + second
                      } else c
                    val mapped = cm.lookup(charIdx)
                    if (mapped < 0) Err.fail(s"CMap does not contain a char with idx $charIdx")
                    val ch = mapped.toChar
                    if (displayChar) out.append(charsFormat(ch, font))
                    else out.append(ch)
                    advance(font, c) // width lookup uses the FIRST byte — content.rs:818
                    i += 1
                  }
                case None =>
                  // raw path — content.rs:859-912
                  var i = 0
                  while (i < at.bytes.length) {
                    val c = at.bytes(i) & 0xff
                    if (displayChar) out.append(charsFormat(c.toChar, font))
                    else out.append(c.toChar)
                    advance(font, c)
                    i += 1
                  }
              }
            case APos(tj0) =>
              // kern adjustment — content.rs:916-928; no space inference (commented
              // out in the reference). f32-specialized with the identical op order
              // as the Num path: negate in the operand's own domain (i32 wrap for
              // NInt, matching unary_-), then Real division/multiplies.
              val tfs = tfsOrFail()
              val th = content.graphicState.textState.th
              val negF = tj0 match {
                case NInt(i)  => (-i).toFloat
                case NReal(v) => -v
              }
              val tx = negF / 1000.0f * tfs.toF * th.toF
              content.tm = Mat(1.0f, 0.0f, 0.0f, 1.0f, tx, 0.0f) * content.tm
          }
          if (!displayChar) spans += Span("TJ", spanStart, out.length)

        case _ => () // every other instruction emits nothing — content.rs:947
      }
      instr = content.next()
    }

    // per-page leading '\n'/' ' trim — content.rs:950
    val full = out.toString
    var k = 0
    while (k < full.length && (full.charAt(k) == '\n' || full.charAt(k) == ' ')) k += 1
    val text = full.substring(k)
    val shifted = spans.result().flatMap { s =>
      val ns = math.max(0, s.start - k)
      val ne = s.end - k
      if (ne > ns) Some(Span(s.op, ns, ne)) else None
    }
    ExtractResult(text, shifted)
  }

  /** Escape bitmap for Rust char `{:?}` over the full BMP, generated from the
    * actual Rust standard library (`format!("{:?}", c)` for every non-
    * surrogate BMP codepoint — tools note in BENCH.md round 6) and validated
    * bit-for-bit by RustFmtSpec against the committed ground truth. A
    * hand-written category rule is NOT enough: escape_debug also escapes
    * grapheme-extend chars (U+0301), unassigned codepoints, private use,
    * NBSP, and line/paragraph separators — CMap'd TJ glyphs and font cmap
    * values can be any of these (round-6 review caught the Latin-1-only
    * rule diverging above U+00FF).
    */
  private lazy val rustEscapeBmp: Array[Byte] = {
    val in = getClass.getResourceAsStream("/rust_escape_debug_bmp.bin")
    require(in != null, "rust_escape_debug_bmp.bin resource missing")
    try in.readAllBytes() finally in.close()
  }

  def rustCharDebug(c: Char): String = c match {
    case '\u0000' => "'\\0'"
    case '\n' => "'\\n'"
    case '\r' => "'\\r'"
    case '\t' => "'\\t'"
    case '\\' => "'\\\\'"
    case '\'' => "'\\''"
    // UTF-16 surrogate code units are UNREPRESENTABLE in Rust's char, so the
    // reference can never reach its Debug formatter with one — every ingress
    // (cmap values, CMap.utf16Char) already fails like char::decode_utf16
    // (cmap.rs:74), and the ground-truth bitmap has no defined bits here.
    // Fail loudly rather than render generator-dependent garbage (ADVICE r6).
    case c if c >= '\ud800' && c <= '\udfff' =>
      Err.fail(f"surrogate code unit U+${c.toInt}%04X has no Rust char Debug form")
    case c if ((rustEscapeBmp(c >> 3) >> (c & 7)) & 1) == 1 =>
      f"'\\u{${c.toInt}%x}'"
    case c    => s"'$c'"
  }

  /** Rust `{:?}` for String (str Debug), exact over the BMP via its own
    * ground-truth bitmap (str escaping differs from char: `"` escapes, `'`
    * does not; named escapes \0 \t \r \n \\ \" then `\u{x}` per the
    * generated table). Font subtype/name/base-font values route through
    * here for --chars and --font parity.
    */
  private lazy val rustEscapeStrBmp: Array[Byte] = {
    val in = getClass.getResourceAsStream("/rust_escape_debug_str_bmp.bin")
    require(in != null, "rust_escape_debug_str_bmp.bin resource missing")
    try in.readAllBytes() finally in.close()
  }

  /** Astral-plane (U+10000..U+10FFFF) escape bitmap, generated the same way
    * as the BMP tables (tools/refbuild/astralgen — `format!("{:?}")` over
    * every astral codepoint; char and str Debug verified identical there by
    * the generator's assert, no quote chars exist astral). Bit set = escape
    * as `\u{x}`, clear = raw. Needed because a PAIRED surrogate in a Java
    * String is a valid astral char Rust's str CAN hold (a 4-byte UTF-8 name
    * reaching PdfFont via the Utf8.strict bare-token coercion) — the
    * reference Debug-prints it, so only LONE surrogates may fail (ADVICE r7).
    */
  private lazy val rustEscapeAstral: Array[Byte] = {
    val in = getClass.getResourceAsStream("/rust_escape_debug_astral.bin")
    require(in != null, "rust_escape_debug_astral.bin resource missing")
    try in.readAllBytes() finally in.close()
  }

  /** Rust Debug body for one astral codepoint (char and str Debug agree on
    * every astral cp — generator-asserted).
    */
  private def astralDebugBody(cp: Int): String = {
    val off = cp - 0x10000
    if (((rustEscapeAstral(off >> 3) >> (off & 7)) & 1) == 1) f"\\u{$cp%x}"
    else new String(Character.toChars(cp))
  }

  def rustStrDebug(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '\u0000' => sb.append("\\0")
        case '\t'     => sb.append("\\t")
        case '\r'     => sb.append("\\r")
        case '\n'     => sb.append("\\n")
        case '\\'    => sb.append("\\\\")
        case '"'       => sb.append("\\\"")
        // a VALID surrogate pair is a real astral char (Rust str holds it;
        // escape_debug keeps printable astral raw) — render via the astral
        // ground-truth bitmap; only a LONE surrogate is unrepresentable in
        // Rust and fails (it cannot round-trip through UTF-8 to the
        // reference at all). ADVICE r7.
        case c if Character.isHighSurrogate(c)
            && i + 1 < s.length && Character.isLowSurrogate(s.charAt(i + 1)) =>
          sb.append(astralDebugBody(Character.toCodePoint(c, s.charAt(i + 1))))
          i += 1
        case c if c >= '\ud800' && c <= '\udfff' =>
          Err.fail(f"lone surrogate code unit U+${c.toInt}%04X has no Rust str Debug form")
        case c if ((rustEscapeStrBmp(c >> 3) >> (c & 7)) & 1) == 1 =>
          sb.append(f"\\u{${c.toInt}%x}")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
    sb.toString
  }
}

package graft.core

import scala.collection.mutable

/** ToUnicode CMap — cmap.rs:4-155. Parsed token-wise from the (decoded) CMap stream.
  * `isTwoBytes` derives from the first codespacerange hex length (1 byte -> false,
  * 2 -> true, else panic — cmap.rs:41-45). Values are single UTF-16 code units; an
  * unpaired surrogate panics exactly like Rust `char::decode_utf16` (cmap.rs:74).
  *
  * Lookups read `table`, one unboxed char per code (grown to the largest code
  * stored, at most 65,536 entries), where a surrogate marks a missing code. The
  * two mappings a char slot cannot hold live in `overflow`: codes past 0xFFFF
  * (an array-form bfrange running off the end) and the surrogate values an
  * incrementing bfrange produces when its destination wraps past 0xFFFF (the
  * surrogate check sees the unwrapped code). Both are empty on real CMaps.
  */
final class ToUnicodeCMap(
    val beginCodeSpaceRange: Array[Byte],
    val endCodeSpaceRange: Array[Byte],
    val isTwoBytes: Boolean,
    table: Array[Char],
    overflow: Map[Int, Char]
) {

  /** The char `code` maps to, or -1 when the CMap does not map it. */
  def lookup(code: Int): Int = {
    if (code < table.length) {
      val c = table(code)
      if (!Character.isSurrogate(c)) return c
    }
    if (overflow.isEmpty) -1 else overflow.get(code).fold(-1)(_.toInt)
  }

  /** Every mapping as a map (the `--font` display and the specs). */
  lazy val cmap: Map[Int, Char] = {
    val b = Map.newBuilder[Int, Char]
    var code = 0
    while (code < table.length) {
      if (!Character.isSurrogate(table(code))) b += code -> table(code)
      code += 1
    }
    b ++= overflow
    b.result()
  }
}
object ToUnicodeCMap {

  def parse(value: String): ToUnicodeCMap = {
    val bytes = value.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val tok = new PdfTokenizer(bytes, 0)

    def peek(): Tok = tok.copyCursor.next()

    // scan to begincodespacerange — cmap.rs:18-24
    var scanning = true
    while (scanning) {
      tok.next() match {
        case b: TBare if bEq(b.bytes, "begincodespacerange") => scanning = false
        case null => Err.fail("Reached end of cmap stream before complete")
        case _    => ()
      }
    }
    val begin = tok.next() match {
      case h: THex => h.bytes
      case t       => Err.fail(s"Cmap begincodespacerange next token should be HexString, found $t")
    }
    val end = tok.next() match {
      case h: THex => h.bytes
      case t       => Err.fail(s"Cmap endcodespacerange next token should be HexString, found $t")
    }
    val isTwoBytes = begin.length match {
      case 1 => false
      case 2 => true
      case n => Err.fail(s"Cmap index with byte length $n is not supported")
    }

    var table = newTable(0x100)
    val overflow = mutable.HashMap.empty[Int, Char]

    def put(code: Int, v: Char): Unit =
      if (code <= 0xffff && !Character.isSurrogate(v)) {
        if (code >= table.length) table = grow(table, code)
        table(code) = v
        if (overflow.nonEmpty) overflow.remove(code)
      } else {
        overflow(code) = v
        if (code < table.length) table(code) = Missing
      }

    def hexKey(x: Array[Byte], what: String): Int = x.length match {
      case 2 => (x(0) & 0xff) * 256 + (x(1) & 0xff)
      case 1 => x(0) & 0xff
      case n => Err.fail(s"$what should contain one or two bytes, found $n")
    }

    def utf16Char(code: Int): Char = {
      if (code >= 0xd800 && code <= 0xdfff) Err.fail("unpaired surrogate in cmap value")
      code.toChar
    }

    def hexVal(x: Array[Byte]): Int = {
      if (x.length < 2) Err.fail("CMap value hex string too short")
      (x(0) & 0xff) * 256 + (x(1) & 0xff)
    }

    var t = tok.next()
    while (t != null) {
      t match {
        case b: TBare if bEq(b.bytes, "beginbfchar") =>
          var done = false
          while (!done) {
            peek() match {
              case p: TBare if bEq(p.bytes, "endbfchar") => done = true
              case _ =>
                val key = tok.next() match {
                  case h: THex => hexKey(h.bytes, "BFChar key")
                  case null    => Err.fail("CMap unreadable because end of cmap file is reached")
                  case tk      => Err.fail(s"CMap key should be an hex string, found $tk")
                }
                val v = tok.next() match {
                  case h: THex => utf16Char(hexVal(h.bytes))
                  case null    => Err.fail("CMap unreadable because end of cmap file is reached")
                  case tk      => Err.fail(s"CMap val should be an hex string, found $tk")
                }
                put(key, v)
            }
          }
        case b: TBare if bEq(b.bytes, "beginbfrange") =>
          var done = false
          while (!done) {
            peek() match {
              case p: TBare if bEq(p.bytes, "endbfrange") => done = true
              case _ =>
                val src1 = tok.next() match {
                  case h: THex => hexKey(h.bytes, "BFRange first source code")
                  case null    => Err.fail("CMap unreadable because end of cmap file is reached")
                  case tk      => Err.fail(s"CMap srcCode1 should be an hex string, found $tk")
                }
                val src2 = tok.next() match {
                  case h: THex => hexKey(h.bytes, "BFRange second source code")
                  case null    => Err.fail("CMap unreadable because end of cmap file is reached")
                  case tk      => Err.fail(s"CMap srcCode2 should be an hex string, found $tk")
                }
                tok.next() match {
                  case h: THex =>
                    // incrementing form — cmap.rs:107-122
                    var dst = hexVal(h.bytes)
                    var idx = src1
                    while (idx <= src2) {
                      put(idx, utf16Char(dst))
                      dst += 1
                      idx += 1
                    }
                  case TArrayBegin =>
                    // array form — cmap.rs:124-138
                    var idx = 0
                    var arrDone = false
                    while (!arrDone) {
                      tok.next() match {
                        case TArrayEnd => arrDone = true
                        case h: THex =>
                          put(src1 + idx, utf16Char(hexVal(h.bytes)))
                          idx += 1
                        case null => Err.fail("CMap unreadable because end of cmap file is reached")
                        case tk   => Err.fail(s"CMap range should only contain hex strings, found $tk")
                      }
                    }
                  case null => Err.fail("CMap unreadable because end of cmap file is reached")
                  case tk   => Err.fail(s"CMap dst_string should be an hex string or an array, found $tk")
                }
            }
          }
        case _ => ()
      }
      t = tok.next()
    }

    new ToUnicodeCMap(begin, end, isTwoBytes, table,
      if (overflow.isEmpty) Map.empty else overflow.toMap)
  }

  /** Marks a missing code in the lookup table (parse stores no surrogate there). */
  private val Missing = '\udfff'

  private def newTable(n: Int): Array[Char] = {
    val t = new Array[Char](n)
    java.util.Arrays.fill(t, Missing)
    t
  }

  /** `t` grown (by doubling, at most to 0x10000 entries) to hold `code`. */
  private def grow(t: Array[Char], code: Int): Array[Char] = {
    var n = t.length
    while (n <= code) n *= 2
    val g = newTable(n)
    System.arraycopy(t, 0, g, 0, t.length)
    g
  }

  private def bEq(a: Array[Byte], s: String): Boolean = {
    if (a.length != s.length) return false
    var i = 0
    while (i < a.length) { if (a(i) != s.charAt(i)) return false; i += 1 }
    true
  }
}

package graft.etl

import java.io.InputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.zip.ZipFile
import scala.collection.mutable.ArrayBuffer

/** Dependency-free XLSX sheet reader.
  *
  * The reference consumes NHS Excel workbooks directly
  * (`pd.read_excel(sheet_name=…, skiprows=N)`, reference src/main.py:113,
  * :227, :81); this environment has no spark-excel/POI, but .xlsx is just a
  * zip of SpreadsheetML, so a targeted parser covers the real format:
  * workbook.xml (sheet name → r:id), workbook.xml.rels (r:id → part),
  * sharedStrings.xml, and the sheet's <row>/<c> cells with shared (t="s"),
  * inline (t="inlineStr"), and literal values, aligned to column positions
  * from the A1-style cell references (absent cells stay empty, like
  * pandas' NaN).
  *
  * Each part is read in one pass of a [[Scanner]] over its zip entry: a
  * byte-level XML reader with a bounded buffer, so a sheet is never held
  * as text. It checks what an XML parser checks on these parts (tags
  * close in order, attribute values hold no `<`, the bytes are UTF-8) and
  * fails, naming the workbook and the part, on anything else. A DOCTYPE is
  * skipped unread and only the five predefined entities and character
  * references resolve (a workbook is untrusted input). Text follows
  * openpyxl: references decode, rich-text runs join, phonetic (<rPh>) runs
  * are skipped. A [[Workbook]] handle parses the sheet index and the
  * shared strings once, for every sheet read through it. Cell references
  * are read as openpyxl reads them (`$` anchors, letters of either case); a
  * malformed reference, a row number that is not a positive integer or a
  * shared-string index outside the table fails with an
  * IllegalArgumentException naming the workbook and the sheet.
  *
  * Scope: values only — formulas read their cached <v>, styles/dates come
  * back as the stored literal. That is exactly what the reference's sheets
  * contain. The reader runs wherever its caller does: [[Staging]] opens a
  * workbook on the driver only to resolve a sheet ([[Workbook.sheetPart]])
  * and streams the sheet's rows inside the task that consumes them; the
  * Runner reads the Notes sheet on the driver and stops at row 12.
  */
object Xlsx {

  private val NoCells = new Array[String](0)

  /** 1-26 for an ASCII letter of either case, else 0. */
  private def letter(c: Char): Int = {
    val l = c | 0x20
    if (l >= 'a' && l <= 'z') l - 'a' + 1 else 0
  }

  /** Zero-based column of an A1-style cell reference, read as openpyxl
    * reads one: an optional `$`, one to three letters of either case, an
    * optional `$`, then the row's digits. -1 for any other string. */
  private def colIndex(ref: String): Int = {
    val n = ref.length
    var i = if (n > 0 && ref.charAt(0) == '$') 1 else 0
    val letters = i
    var acc = 0
    while (i < n && i - letters < 3 && letter(ref.charAt(i)) > 0) {
      acc = acc * 26 + letter(ref.charAt(i))
      i += 1
    }
    if (i == letters) return -1
    if (i < n && ref.charAt(i) == '$') i += 1
    val digits = i
    while (i < n && ref.charAt(i) >= '0' && ref.charAt(i) <= '9') i += 1
    if (i == digits || i < n) -1 else acc - 1
  }

  private def ascii(s: String): Array[Byte] = s.getBytes(ISO_8859_1)
  private val RowTag = ascii("row")
  private val CellTag = ascii("c")
  private val ValueTag = ascii("v")
  private val InlineTag = ascii("is")
  private val TextTag = ascii("t")
  private val PhoneticTag = ascii("rPh")
  private val SharedTag = ascii("si")
  private val SheetDataTag = ascii("sheetData")
  private val SheetTag = ascii("sheet")
  private val RelationshipTag = ascii("Relationship")

  private[etl] object Scanner {
    final val Eof = 0
    final val Start = 1
    final val End = 2
    private final val Other = 3
    // where a byte goes once read and checked
    private final val Drop = 0
    private final val ToText = 1
    private final val ToName = 2
    private final val ToAttrName = 3
    private val XmlTarget = ascii("xml")
    private val Encoding = """encoding\s*=\s*["']([^"']*)["']""".r.unanchored
  }

  /** A pull reader over one XML part, `where` naming it in every error.
    * [[next]] moves to the next start or end tag and skips character data,
    * comments, processing instructions and a DOCTYPE; a self-closing tag
    * comes back as a start then an end. Element names are matched without
    * their prefix ([[is]]); of the attributes only those in `wanted` are
    * decoded, each an unprefixed name, or `*:name` for that name under any
    * prefix (hand-made workbooks write `r:id` without declaring the
    * namespace). Names are compared in place as bytes and a run of ASCII
    * text becomes a String directly, so a cell costs no intermediate
    * objects. The input is read through a fixed 64 KiB buffer.
    *
    * Well-formedness is checked as far as these parts need: every end tag
    * closes the open element of its name, the part ends with every element
    * closed, attribute values are quoted and hold no `<`, only the five
    * predefined entities and character references to XML characters
    * resolve, control characters are refused, and the bytes are strict
    * UTF-8 (a declared encoding other than UTF-8 is refused). Line ends
    * normalize to `\n` and attribute white space to spaces, as in XML. A
    * violation is an IllegalArgumentException naming `where` and the byte
    * offset. */
  private[etl] final class Scanner(in: InputStream, where: String, wanted: Seq[String]) extends AutoCloseable {
    import Scanner._

    private val buf = new Array[Byte](1 << 16)
    private var pos, lim = 0
    private var base = 0L // offset of buf(0) in the part

    // the current tag's name; its local part starts at `local`
    private var name = new Array[Byte](32)
    private var nameLen, local = 0
    private var attrName = new Array[Byte](32)
    private var attrNameLen, attrLocal = 0
    // the names of the open elements, end to end
    private var open = new Array[Byte](256)
    private var openEnds = new Array[Int](32)
    private var depth = 0
    private var rootSeen = false
    private var pendingEnd = false

    private var textBuf = new Array[Byte](256)
    private var textLen = 0
    private var textAscii = true

    private val wantLocal = wanted.map(w => ascii(w.stripPrefix("*:"))).toArray
    private val wantPrefixed = wanted.map(_.startsWith("*:")).toArray
    /** The wanted attributes of the start tag [[next]] returned last, by
      * position in `wanted`; null when absent. */
    val attr = new Array[String](wanted.length)

    private def fail(what: String): Nothing =
      throw new IllegalArgumentException(s"$where: malformed XML at byte ${base + pos}: $what")

    private def fill(): Boolean = {
      base += lim
      pos = 0
      lim = 0
      var n = 0
      while (n == 0) n = in.read(buf, 0, buf.length)
      if (n < 0) false else { lim = n; true }
    }

    /** The next byte, or -1 at the end of the part. */
    private def read(): Int =
      if (pos < lim || fill()) { val b = buf(pos) & 0xff; pos += 1; b } else -1

    private def peek(): Int = if (pos < lim || fill()) buf(pos) & 0xff else -1

    /** The next byte inside markup, where the part may not end. */
    private def need(): Int = {
      val b = read()
      if (b < 0) fail(s"the part ends inside markup${openNote}")
      b
    }

    private def openNote: String = if (depth > 0) s" (in <${openName(depth - 1)}>)" else ""

    private def openName(d: Int): String = {
      val from = if (d == 0) 0 else openEnds(d - 1)
      new String(open, from, openEnds(d) - from, UTF_8)
    }

    private def tagName: String = new String(name, 0, nameLen, UTF_8)

    /** Whether a(from until to) holds the bytes of b(bFrom until bTo). */
    private def same(a: Array[Byte], from: Int, to: Int, b: Array[Byte], bFrom: Int, bTo: Int): Boolean = {
      if (to - from != bTo - bFrom) return false
      var i = from
      var j = bFrom
      while (i < to) {
        if (a(i) != b(j)) return false
        i += 1
        j += 1
      }
      true
    }

    /** Whether the current tag's name, without its prefix, is `n`. */
    def is(n: Array[Byte]): Boolean = same(name, local, nameLen, n, 0, n.length)

    private def put(to: Int, b: Int): Unit = to match {
      case ToText =>
        if (textLen == textBuf.length) textBuf = java.util.Arrays.copyOf(textBuf, textLen * 2)
        textBuf(textLen) = b.toByte
        textLen += 1
      case ToName =>
        if (nameLen == name.length) name = java.util.Arrays.copyOf(name, nameLen * 2)
        name(nameLen) = b.toByte
        nameLen += 1
      case ToAttrName =>
        if (attrNameLen == attrName.length) attrName = java.util.Arrays.copyOf(attrName, attrNameLen * 2)
        attrName(attrNameLen) = b.toByte
        attrNameLen += 1
      case _ =>
    }

    /** The kept text as a String; empties it. */
    private def takeText(): String = {
      val s = new String(textBuf, 0, textLen, if (textAscii) ISO_8859_1 else UTF_8)
      textLen = 0
      textAscii = true
      s
    }

    /** The rest of the UTF-8 sequence that lead byte `b` (>= 0x80) opens,
      * checked strictly (no overlong forms, surrogates or code points past
      * U+10FFFF), the whole sequence put `to`. */
    private def utf8(b: Int, to: Int): Unit = {
      var n = 0
      var lo = 0x80
      var hi = 0xbf
      if (b >= 0xc2 && b <= 0xdf) n = 1
      else if (b >= 0xe0 && b <= 0xef) { n = 2; if (b == 0xe0) lo = 0xa0 else if (b == 0xed) hi = 0x9f }
      else if (b >= 0xf0 && b <= 0xf4) { n = 3; if (b == 0xf0) lo = 0x90 else if (b == 0xf4) hi = 0x8f }
      else fail(f"malformed UTF-8: byte 0x$b%02x cannot start a character")
      if (to == ToText) textAscii = false
      put(to, b)
      var i = 0
      while (i < n) {
        val c = read()
        if (c < lo || c > hi) fail(f"malformed UTF-8: byte 0x$b%02x is not followed by a continuation byte")
        put(to, c)
        lo = 0x80
        hi = 0xbf
        i += 1
      }
    }

    private def isXmlChar(cp: Long): Boolean =
      cp == 0x9 || cp == 0xa || cp == 0xd || (cp >= 0x20 && cp <= 0xd7ff) ||
        (cp >= 0xe000 && cp <= 0xfffd) || (cp >= 0x10000 && cp <= 0x10ffff)

    /** Code point `cp` as UTF-8, put `to`. */
    private def putChar(to: Int, cp: Int): Unit =
      if (cp < 0x80) put(to, cp)
      else {
        if (to == ToText) textAscii = false
        if (cp < 0x800) { put(to, 0xc0 | cp >> 6); put(to, 0x80 | cp & 0x3f) }
        else if (cp < 0x10000) {
          put(to, 0xe0 | cp >> 12); put(to, 0x80 | cp >> 6 & 0x3f); put(to, 0x80 | cp & 0x3f)
        } else {
          put(to, 0xf0 | cp >> 18); put(to, 0x80 | cp >> 12 & 0x3f)
          put(to, 0x80 | cp >> 6 & 0x3f); put(to, 0x80 | cp & 0x3f)
        }
      }

    /** The reference after an `&`, its character put `to`. */
    private def reference(to: Int): Unit = {
      var c = need()
      if (c == '#') {
        c = need()
        val radix = if (c == 'x') { c = need(); 16 } else 10
        var cp = 0L
        var digits = 0
        while (c != ';') {
          val d = Character.digit(c, radix)
          if (d < 0) fail("a character reference holds a character that is not a digit")
          if (cp <= 0x10ffff) cp = cp * radix + d
          digits += 1
          c = need()
        }
        if (digits == 0 || !isXmlChar(cp)) fail("a character reference names no XML character")
        putChar(to, cp.toInt)
      } else {
        val sb = new java.lang.StringBuilder
        while (c != ';') {
          if (c <= ' ' || c == '<' || c == '&' || c == '"' || c == '\'' || sb.length > 32)
            fail(s"""the reference to entity "$sb" must end with the ';' delimiter""")
          sb.append(c.toChar)
          c = need()
        }
        val ch = sb.toString match {
          case "lt" => '<'
          case "gt" => '>'
          case "amp" => '&'
          case "quot" => '"'
          case "apos" => '\''
          case other => fail(s"""the entity "$other" was referenced, but not declared""")
        }
        put(to, ch)
      }
    }

    /** Character data up to the next `<`, which is consumed, put `to` with
      * its references resolved and its line ends normalized. False at the
      * end of the part. */
    private def chars(to: Int): Boolean = {
      while (true) {
        var i = pos
        while (i < lim && { val b = buf(i); b >= 0x20 && b != '<' && b != '&' || b == '\n' || b == '\t' }) i += 1
        if (to == ToText && i > pos) {
          val n = i - pos
          if (textLen + n > textBuf.length) textBuf = java.util.Arrays.copyOf(textBuf, math.max(textBuf.length * 2, textLen + n))
          System.arraycopy(buf, pos, textBuf, textLen, n)
          textLen += n
        }
        pos = i
        val b = read()
        if (b == '<') return true
        if (b < 0) return false
        if (b == '&') reference(to)
        else if (b == '\r') { if (peek() == '\n') pos += 1; put(to, '\n') }
        else if (b >= 0x80) utf8(b, to)
        else if (b >= 0x20 || b == '\n' || b == '\t') put(to, b) // a plain byte at the buffer's end
        else fail(f"character 0x$b%02x is not allowed in XML")
      }
      false
    }

    /** Skip white space inside a tag; the first other byte. */
    private def skipSpace(): Int = {
      var c = need()
      while (c == ' ' || c == '\n' || c == '\t' || c == '\r') c = need()
      c
    }

    private def isSpace(c: Int) = c == ' ' || c == '\n' || c == '\t' || c == '\r'

    private def endsName(c: Int) = isSpace(c) || c == '>' || c == '/' || c == '=' || c == '?'

    /** The next byte inside markup, read straight from the buffer when it
      * holds one. */
    private def nextByte(): Int = if (pos < lim) { val b = buf(pos) & 0xff; pos += 1; b } else need()

    /** A name whose first byte is `first`: the tag's name for `ToName`,
      * else the attribute's (or a processing instruction's target).
      * Returns the byte after it. */
    private def readName(first: Int, to: Int): Int = {
      var c = first
      if (endsName(c)) fail("a name is missing")
      var arr = if (to == ToName) name else attrName
      var len = 0
      var from = 0
      while (!endsName(c)) {
        if (c == '<' || c == '&' || c == '"' || c == '\'' || c < 0x20) fail(s"a name holds '${c.toChar}'")
        if (c == ':' && from == 0) from = len + 1
        if (c >= 0x80) {
          if (to == ToName) { name = arr; nameLen = len } else { attrName = arr; attrNameLen = len }
          utf8(c, to)
          if (to == ToName) { arr = name; len = nameLen } else { arr = attrName; len = attrNameLen }
        } else {
          if (len == arr.length) arr = java.util.Arrays.copyOf(arr, len * 2)
          arr(len) = c.toByte
          len += 1
        }
        c = nextByte()
      }
      if (to == ToName) { name = arr; nameLen = len; local = from }
      else { attrName = arr; attrNameLen = len; attrLocal = from }
      c
    }

    /** An attribute value after its opening `quote`: its String when
      * `keep`, else checked and dropped (null). */
    private def attrValue(quote: Int, keep: Boolean): String = {
      // a run of plain ASCII up to the quote, all in the buffer
      var i = pos
      while (i < lim && { val b = buf(i); b >= 0x20 && b != quote && b != '<' && b != '&' }) i += 1
      if (i < lim && buf(i) == quote) {
        val v = if (keep) new String(buf, pos, i - pos, ISO_8859_1) else null
        pos = i + 1
        return v
      }
      val to = if (keep) ToText else Drop
      textLen = 0
      textAscii = true
      var b = need()
      while (b != quote) {
        if (b == '<') fail("an attribute value holds '<'")
        if (b == '&') reference(to)
        else if (b == '\r') { if (peek() == '\n') pos += 1; put(to, ' ') }
        else if (b == '\n' || b == '\t') put(to, ' ')
        else if (b >= 0x80) utf8(b, to)
        else if (b < 0x20) fail(f"character 0x$b%02x is not allowed in XML")
        else put(to, b)
        b = need()
      }
      if (keep) takeText() else null
    }

    /** The index in `wanted` of the attribute just named, or -1. */
    private def wantedIndex(): Int = {
      var i = 0
      while (i < wantLocal.length) {
        val w = wantLocal(i)
        if (wantPrefixed(i) == attrLocal > 1 && same(attrName, attrLocal, attrNameLen, w, 0, w.length)) return i
        i += 1
      }
      -1
    }

    /** A start tag after its `<`, whose name starts with `first`. */
    private def startTag(first: Int): Unit = {
      var c = readName(first, ToName)
      var a = 0
      while (a < attr.length) { attr(a) = null; a += 1 }
      var spaced = false
      while (c != '>' && c != '/') {
        if (isSpace(c)) { spaced = true; c = skipSpace() }
        else {
          if (!spaced) fail(s"the attributes of <$tagName> are not separated by white space")
          c = readName(c, ToAttrName)
          if (isSpace(c)) c = skipSpace()
          if (c != '=') fail(s"an attribute of <$tagName> has no value")
          val quote = skipSpace()
          if (quote != '"' && quote != '\'') fail(s"an attribute value of <$tagName> is not quoted")
          val w = wantedIndex()
          if (w < 0) attrValue(quote, keep = false)
          else {
            if (attr(w) != null) fail(s"<$tagName> repeats an attribute")
            attr(w) = attrValue(quote, keep = true)
          }
          spaced = false
          c = nextByte()
        }
      }
      if (c == '/') {
        if (need() != '>') fail(s"'/' in <$tagName> is not followed by '>'")
        pendingEnd = true
      } else {
        if (depth == openEnds.length) openEnds = java.util.Arrays.copyOf(openEnds, depth * 2)
        val from = if (depth == 0) 0 else openEnds(depth - 1)
        if (from + nameLen > open.length) open = java.util.Arrays.copyOf(open, (from + nameLen) * 2)
        System.arraycopy(name, 0, open, from, nameLen)
        openEnds(depth) = from + nameLen
        depth += 1
      }
      rootSeen = true
    }

    /** An end tag after its `</`; it must close the innermost open element. */
    private def endTag(): Unit = {
      var c = readName(need(), ToName)
      if (isSpace(c)) c = skipSpace()
      if (c != '>') fail(s"the end tag </$tagName> does not end with '>'")
      if (depth == 0) fail(s"the end tag </$tagName> closes no element")
      val from = if (depth == 1) 0 else openEnds(depth - 2)
      if (!same(open, from, openEnds(depth - 1), name, 0, nameLen))
        fail(s"the end tag </$tagName> does not match <${openName(depth - 1)}>")
      depth -= 1
    }

    /** Bytes up to and including `end` (two or three ASCII bytes), checked
      * and put `to` without `end`, line ends normalized. */
    private def until(end: String, to: Int): Unit = {
      val e = ascii(end)
      val n = e.length
      var p1, p2 = -1 // the two bytes before b
      var b = need()
      while (!(b == e(n - 1) && p1 == e(n - 2) && (n < 3 || p2 == e(n - 3)))) {
        if (b == '\r') { if (peek() == '\n') pos += 1; put(to, '\n') }
        else if (b >= 0x80) utf8(b, to)
        else if (b < 0x20 && b != '\n' && b != '\t') fail(f"character 0x$b%02x is not allowed in XML")
        else put(to, b)
        p2 = p1
        p1 = b
        b = need()
      }
      // the bytes of `end` before b went out as text
      if (to == ToText) textLen -= n - 1
      else if (to == ToAttrName) attrNameLen -= n - 1
    }

    /** A processing instruction after its `<?`; the XML declaration's
      * encoding must be UTF-8. */
    private def instruction(): Unit = {
      val c = readName(need(), ToAttrName)
      val decl = same(attrName, 0, attrNameLen, XmlTarget, 0, XmlTarget.length)
      attrNameLen = 0
      if (c == '?' && peek() == '>') pos += 1
      else {
        until("?>", if (decl) ToAttrName else Drop)
        if (decl) new String(attrName, 0, attrNameLen, UTF_8) match {
          case Encoding(enc) if !enc.equalsIgnoreCase("UTF-8") && !enc.equalsIgnoreCase("UTF8") =>
            fail(s"""the part declares encoding "$enc"; only UTF-8 is read""")
          case _ =>
        }
      }
    }

    /** A DOCTYPE after its `<!DOCTYPE`, skipped without reading its
      * internal subset. */
    private def doctype(): Unit = {
      var quote = 0
      var subset = false
      var b = need()
      while (quote != 0 || subset || b != '>') {
        if (quote != 0) { if (b == quote) quote = 0 }
        else if (b == '"' || b == '\'') quote = b
        else if (b == '[') subset = true
        else if (b == ']') subset = false
        if (b >= 0x80) utf8(b, Drop)
        b = need()
      }
    }

    private def expect(s: String): Unit =
      s.foreach(ch => if (need() != ch) fail(s"unknown markup (expected '$s')"))

    /** The markup after a `<`: Start, End or Other (a comment, PI, DOCTYPE
      * or CDATA section, whose text is put `to`). */
    private def markup(to: Int): Int = {
      val b = need()
      if (b == '/') { endTag(); End }
      else if (b == '?') { instruction(); Other }
      else if (b == '!') {
        val c = need()
        if (c == '-') { expect("-"); until("-->", Drop) }
        else if (c == '[') { expect("CDATA["); until("]]>", to) }
        else if (c == 'D') { expect("OCTYPE"); doctype() }
        else fail("unknown markup after '<!'")
        Other
      } else {
        if (to == ToText) fail(s"the text-only element <${openName(depth - 1)}> holds an element")
        startTag(b)
        Start
      }
    }

    /** The next start or end tag, or Eof once the part has ended with its
      * elements closed. */
    def next(): Int = {
      if (pendingEnd) { pendingEnd = false; return End }
      while (true) {
        if (!chars(Drop)) {
          if (depth > 0) fail(s"the part ends before </${openName(depth - 1)}>")
          if (!rootSeen) fail("the part has no root element")
          return Eof
        }
        val m = markup(Drop)
        if (m != Other) return m
      }
      Eof
    }

    /** The text of the element whose start tag [[next]] returned last, read
      * through its end tag (StAX's `getElementText`): character data,
      * references and CDATA joined, comments and PIs skipped; a child
      * element fails. */
    def text(): String = {
      if (pendingEnd) { pendingEnd = false; return "" }
      // plain ASCII up to the end tag, all in the buffer
      var i = pos
      while (i < lim && { val b = buf(i); b >= 0x20 && b != '<' && b != '&' }) i += 1
      if (i + 1 < lim && buf(i) == '<' && buf(i + 1) == '/') {
        val v = new String(buf, pos, i - pos, ISO_8859_1)
        pos = i + 2
        endTag()
        return v
      }
      textLen = 0
      textAscii = true
      while (true) {
        if (!chars(ToText)) fail(s"the part ends before </${openName(depth - 1)}>")
        if (markup(ToText) == End) return takeText()
      }
      ""
    }

    /** Skip the element whose start tag [[next]] returned last. */
    def skip(): Unit = {
      var d = 1
      while (d > 0) next() match {
        case Start => d += 1
        case End => d -= 1
        case _ =>
      }
    }

    override def close(): Unit = in.close()
  }

  /** Text of the `<t>` runs inside the current element (`<si>` or `<is>`),
    * joined, skipping phonetic `<rPh>` runs; null when there is no run.
    * Leaves the scanner past the element's end tag. */
  private def runText(s: Scanner): String = {
    var first: String = null
    var sb: java.lang.StringBuilder = null
    var depth = 1
    var phonetic = 0
    while (depth > 0) s.next() match {
      case Scanner.Start =>
        if (phonetic == 0 && s.is(TextTag)) {
          val t = s.text()
          if (first == null) first = t
          else { if (sb == null) sb = new java.lang.StringBuilder(first); sb.append(t) }
        } else {
          if (s.is(PhoneticTag)) phonetic += 1
          depth += 1
        }
      case Scanner.End =>
        if (s.is(PhoneticTag)) phonetic -= 1
        depth -= 1
      case _ =>
    }
    if (sb != null) sb.toString else first
  }

  /** An opened workbook. Close it to release the zip. */
  final class Workbook(val path: String) extends AutoCloseable {
    private val zip = new ZipFile(path)

    private def open(part: String, where: String, attrs: String*): Option[Scanner] =
      Option(zip.getEntry(part)).map(e => new Scanner(zip.getInputStream(e), where, attrs))

    /** Run `f` on each start tag of a part; None when the part is absent. */
    private def scan(part: String, attrs: String*)(f: Scanner => Unit): Option[Unit] =
      open(part, s"$path, part $part", attrs: _*).map { s =>
        try {
          var e = s.next()
          while (e != Scanner.Eof) {
            if (e == Scanner.Start) f(s)
            e = s.next()
          }
        } finally s.close()
      }

    /** (sheet name, part path) in workbook order. */
    private lazy val sheets: IndexedSeq[(String, String)] = {
      val named = ArrayBuffer.empty[(String, String)]
      scan("xl/workbook.xml", "name", "*:id") { s =>
        if (s.is(SheetTag) && s.attr(0) != null) named += s.attr(0) -> s.attr(1)
      }.getOrElse(throw new IllegalArgumentException(s"$path: not an xlsx (no xl/workbook.xml)"))
      val targets = scala.collection.mutable.Map.empty[String, String]
      scan("xl/_rels/workbook.xml.rels", "Id", "Target") { s =>
        if (s.is(RelationshipTag) && s.attr(0) != null && s.attr(1) != null)
          targets.getOrElseUpdate(s.attr(0), s.attr(1))
      }
      named.map { case (name, rid) =>
        name -> targets.get(rid).map(t => if (t.startsWith("/")) t.drop(1) else s"xl/$t").orNull
      }.toIndexedSeq
    }

    def sheetNames: Seq[String] = sheets.map(_._1)

    /** The shared-string table (empty when the workbook has none). */
    private[etl] lazy val sharedStrings: Array[String] = {
      val out = ArrayBuffer.empty[String]
      scan("xl/sharedStrings.xml") { s =>
        if (s.is(SharedTag)) out += Option(runText(s)).getOrElse("")
      }
      out.toArray
    }

    /** The zip entry holding `sheetName`; a named IllegalArgumentException
      * when the sheet, its relationship or its part is missing. */
    private[etl] def sheetPart(sheetName: String): String = {
      val part = sheets.collectFirst { case (n, p) if n == sheetName => p }
        .getOrElse(throw new IllegalArgumentException(s"sheet '$sheetName' not found in $path"))
      if (part == null) throw new IllegalArgumentException(s"no relationship for sheet '$sheetName'")
      if (zip.getEntry(part) == null) throw new IllegalArgumentException(s"missing $part")
      part
    }

    /** The sheet's rows in one streaming pass, positionally aligned: row i
      * of the iterator is sheet row i+1 and cell j is column j, null when
      * absent. Excel omits fully-empty rows from the XML entirely; each
      * row's r attribute is honored and the gaps come back as empty rows,
      * or every positional consumer (skiprows, the Notes iloc[0,0] chain)
      * would shift — pandas read_excel counts blank rows and so must we.
      * A returned array is not reused. */
    def rows(sheetName: String): Iterator[Array[String]] = {
      val s = open(sheetPart(sheetName), s"$path, sheet '$sheetName'", "r", "t").get
      new Iterator[Array[String]] {
        private var emitted = 0
        private var pending: Array[String] = null
        private var pendingIdx = 0
        private var done = false
        // the current row's cells: column and value, in document order
        private var cols = new Array[Int](32)
        private var vals = new Array[String](32)

        private def finish(): Unit = { done = true; s.close() }

        /** Move to the next <row> and parse it into `pending`. */
        private def advance(): Unit = {
          while (!done && pending == null) s.next() match {
            case Scanner.Start if s.is(RowTag) =>
              val rn = s.attr(0)
              pendingIdx = if (rn == null) emitted else {
                val n = try rn.trim.toInt catch { case _: NumberFormatException => 0 }
                if (n < 1) throw malformed(s"row number '$rn'")
                n - 1
              }
              pending = readRow()
            case Scanner.End if s.is(SheetDataTag) => finish()
            case Scanner.Eof => finish()
            case _ =>
          }
        }

        private def readRow(): Array[String] = {
          var n = 0
          var nextIdx = 0
          var maxIdx = -1
          var inRow = true
          while (inRow) s.next() match {
            case Scanner.Start if s.is(CellTag) =>
              val ref = s.attr(0)
              val idx = if (ref != null) colIndex(ref) else nextIdx
              if (idx < 0) throw malformed(s"cell reference '$ref'")
              nextIdx = idx + 1
              val v = readCell(s.attr(1), ref, idx)
              if (v != null) {
                if (n == cols.length) {
                  cols = java.util.Arrays.copyOf(cols, n * 2)
                  vals = java.util.Arrays.copyOf(vals, n * 2)
                }
                cols(n) = idx
                vals(n) = v
                n += 1
                if (idx > maxIdx) maxIdx = idx
              }
            case Scanner.End if s.is(RowTag) => inRow = false
            case _ =>
          }
          if (n == 0) NoCells
          else {
            val out = new Array[String](maxIdx + 1)
            var i = 0
            while (i < n) { out(cols(i)) = vals(i); i += 1 }
            out
          }
        }

        /** The value of the current <c> (at `ref`, column `idx`), null when
          * it has none; leaves the scanner past </c>. */
        private def readCell(t: String, ref: String, idx: Int): String = {
          val inline = t == "inlineStr"
          var value: String = null
          var inCell = true
          while (inCell) s.next() match {
            case Scanner.Start =>
              if (!inline && s.is(ValueTag)) {
                val v = s.text()
                value = if (t == "s") shared(v, ref, idx) else v
              } else if (inline && s.is(InlineTag)) value = runText(s)
              else s.skip()
            case _ => inCell = false
          }
          value
        }

        /** The shared string `v` indexes. */
        private def shared(v: String, ref: String, idx: Int): String = {
          val i = try v.trim.toInt catch { case _: NumberFormatException => -1 }
          if (i < 0 || i >= sharedStrings.length) {
            val cell = if (ref != null) ref else s"in column ${idx + 1} of row ${pendingIdx + 1}"
            throw malformed(s"cell $cell: shared-string index '$v' outside the table of ${sharedStrings.length}")
          }
          sharedStrings(i)
        }

        private def malformed(what: String) =
          new IllegalArgumentException(s"$path, sheet '$sheetName': malformed $what")

        override def hasNext: Boolean = {
          if (pending == null) advance()
          pending != null
        }

        override def next(): Array[String] = {
          if (!hasNext) throw new NoSuchElementException("no more rows")
          emitted += 1
          if (emitted <= pendingIdx) NoCells
          else { val row = pending; pending = null; row }
        }
      }
    }

    override def close(): Unit = zip.close()
  }

  /** Open `path`, run `f`, close. */
  def withWorkbook[T](path: String)(f: Workbook => T): T = {
    val wb = new Workbook(path)
    try f(wb) finally wb.close()
  }

  /** Collect one sheet on the driver as rows of optional cell strings,
    * positionally aligned as [[Workbook.rows]] streams them (row i, column
    * j); absent cells are None. No load collects a sheet: loads stream it
    * through [[Workbook.rows]]. */
  def readSheet(path: String, sheetName: String): Seq[Seq[Option[String]]] =
    withWorkbook(path)(_.rows(sheetName).map(cells => cells.toSeq.map(Option(_))).toVector)

  /** One row of cells (null = absent) as a CSV line (RFC-4180 quoting):
    * the raw record a bad row of either staged format, xlsx or CSV,
    * reports in a `_corrupt_record` column ([[Staging]]). */
  def csvLine(cells: Array[String]): String =
    cells.iterator.map { v =>
      if (v == null) ""
      else if (v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + v.replace("\"", "\"\"") + "\""
      else v
    }.mkString(",")
}

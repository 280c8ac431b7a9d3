package graft.pdf

import graft.schema.{Kinds, DocResult, OrderedBlock}

/** PDF byte parser + text-layer extraction for the raw-blob router — the
  * Spark-side analogue of the reference's pdfium parse of its primary
  * `%PDF` input tier (`rapid_doc/main.py:604-636`,
  * `utils/PyPDFium2Parser.py`). Pure per-document function: runs inside
  * `mapPartitions`, no Spark types, no shuffle.
  *
  * Scope (crawl-grade PDF semantics against the public PDF 32000 spec):
  *   - cross-reference: classic tables (subsections, free entries),
  *     cross-reference STREAMS (§7.5.8, incl. /DecodeParms PNG and TIFF
  *     predictors), `/Prev` chains with cycle guards, and a full
  *     RECOVERY SCAN (`N G obj` sweep, as pdfium does) when offsets are
  *     broken or the chain is corrupt;
  *   - indirect objects: dicts, arrays, names, numbers, literal strings
  *     (nested parens, escapes, octal), hex strings (raw bytes — decoding
  *     is a FONT property, not a lexer property), references, streams with
  *     direct or INDIRECT `/Length`, object streams (§7.5.7);
  *   - stream filters: FlateDecode (+ predictors), ASCIIHexDecode,
  *     ASCII85Decode, and unknown-filter PASSTHROUGH (a /DCTDecode image
  *     keeps its raw JPEG bytes — the sha-256 media_ref contract needs no
  *     pixel decode);
  *   - text: full affine text matrix × CTM composition (rotated content
  *     quantized into 0/90/180/270 classes and read upright), page
  *     `/Rotate`, `BT Tf Td TD Tm TL T* Tj TJ ' "`, TJ kerning read the
  *     way real extractors read it — an adjustment ≤ -180/1000 em is an
  *     inter-word SPACE (xdvipdfmx and many emitters encode spaces as
  *     kerns), smaller kerns fold away; inline images (`BI..ID..EI`)
  *     skipped at the byte level;
  *   - font text decode: /ToUnicode CMaps (bfchar/bfrange, codespace
  *     width), Type0/Identity-H 2-byte CIDs, /Encoding /Differences via an
  *     Adobe-glyph-list subset, WinAnsi high-range, UTF-8 fallback for
  *     unmapped simple fonts;
  *   - `/Annots` link annotations (§12.5.6.5): a text line inside a
  *     /Subtype /Link rect becomes a hyperlink span (anchor text +
  *     /URI target in media_ref), the PDF-tier twin of the office/html
  *     hyperlink spans (reference ContentType.HYPERLINK, enum_class.py:59);
  *   - image XObjects via `cm /ImN Do`; `media_ref` is the sha-256 of the
  *     embedded stream bytes (decoded when the filter chain is known,
  *     raw when not — the engine-wide media_ref contract).
  *
  * Block recovery from the positioned lines is the classical text-layer
  * heuristic ladder: cluster fragments into baseline lines (0.4× size
  * band), join cells/runs with a width-estimate gap rule, group
  * consecutive lines while the baseline gap stays within 1.3× leading and
  * the font size is unchanged, classify by the font-size ladder. */
object PdfConvert {

  // ---- lexer --------------------------------------------------------------

  private sealed trait Tok
  private case class TNum(v: Double) extends Tok
  private case class TName(v: String) extends Tok
  private case class TStr(v: String) extends Tok
  private case class TKw(v: String) extends Tok // obj endobj R stream BT Tj …
  private case object TArrO extends Tok
  private case object TArrC extends Tok
  private case object TDictO extends Tok
  private case object TDictC extends Tok

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\r' || b == '\t' || b == 0 || b == '\f'
  private def isDelim(b: Byte): Boolean =
    b == '(' || b == ')' || b == '<' || b == '>' || b == '[' || b == ']' ||
      b == '{' || b == '}' || b == '/' || b == '%'

  /** Tokenizer over a byte range; `pos` advances. */
  private final class Lexer(val buf: Array[Byte], var pos: Int, val end: Int) {
    def skipWs(): Unit = {
      var go = true
      while (go && pos < end) {
        if (isWs(buf(pos))) pos += 1
        else if (buf(pos) == '%') { // comment to EOL
          while (pos < end && buf(pos) != '\n' && buf(pos) != '\r') pos += 1
        } else go = false
      }
    }

    def next(): Tok = {
      skipWs()
      require(pos < end, "unexpected end of PDF data")
      val b = buf(pos)
      if (b == '[') { pos += 1; TArrO }
      else if (b == ']') { pos += 1; TArrC }
      else if (b == '<') {
        if (pos + 1 < end && buf(pos + 1) == '<') { pos += 2; TDictO }
        else { pos += 1; TStr(hexStringBody()) }
      } else if (b == '>') {
        require(pos + 1 < end && buf(pos + 1) == '>', "stray '>'")
        pos += 2; TDictC
      } else if (b == '(') { pos += 1; TStr(literalStringBody()) }
      else if (b == '/') {
        pos += 1
        val s = pos
        while (pos < end && !isWs(buf(pos)) && !isDelim(buf(pos))) pos += 1
        TName(new String(buf, s, pos - s, "ISO-8859-1"))
      } else if (b == '+' || b == '-' || b == '.' || (b >= '0' && b <= '9')) {
        val s = pos
        pos += 1
        while (pos < end && (buf(pos) == '.' || buf(pos) == '-' ||
          (buf(pos) >= '0' && buf(pos) <= '9')))
          pos += 1
        // "6.-10" style emitter damage: keep the leading valid prefix
        val str = new String(buf, s, pos - s, "ISO-8859-1")
        TNum(try str.toDouble catch {
          case _: NumberFormatException =>
            val m = java.util.regex.Pattern.compile("[-+]?\\d*\\.?\\d+").matcher(str)
            if (m.find() && m.start() == 0) str.substring(0, m.end()).toDouble else 0.0
        })
      } else if (b == '\'') { pos += 1; TKw("'") }
      else if (b == '"') { pos += 1; TKw("\"") }
      else {
        val s = pos
        while (pos < end && !isWs(buf(pos)) && !isDelim(buf(pos))) pos += 1
        require(pos > s, s"unparseable byte '${b.toChar}' at $s")
        TKw(new String(buf, s, pos - s, "ISO-8859-1"))
      }
    }

    /** Literal string after '(': balanced unescaped parens, escapes,
      * 1-3-digit octal. Chars are RAW BYTES (latin-1 1:1) — text decoding
      * happens at the font layer. */
    private def literalStringBody(): String = {
      val sb = new StringBuilder
      var depth = 1
      while (depth > 0) {
        require(pos < end, "unterminated string")
        val c = buf(pos); pos += 1
        if (c == '\\') {
          require(pos < end, "unterminated escape in string")
          val e = buf(pos); pos += 1
          e match {
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case '(' => sb.append('(')
            case ')' => sb.append(')')
            case '\\' => sb.append('\\')
            case '\n' => () // line continuation
            case '\r' => if (pos < end && buf(pos) == '\n') pos += 1
            case d if d >= '0' && d <= '7' =>
              var v = d - '0'
              var k = 1
              while (k < 3 && pos < end && buf(pos) >= '0' && buf(pos) <= '7') {
                v = v * 8 + (buf(pos) - '0'); pos += 1; k += 1
              }
              sb.append(v.toChar)
            case other => sb.append(other.toChar)
          }
        } else if (c == '(') { depth += 1; sb.append('(') }
        else if (c == ')') { depth -= 1; if (depth > 0) sb.append(')') }
        else sb.append((c & 0xff).toChar)
      }
      sb.toString
    }

    /** Hex string after '<' (non-<<): pairs of hex digits to '>'. The
      * result is the RAW byte sequence latin-1-widened — a 2-byte CID
      * string must survive intact for the font decoder. */
    private def hexStringBody(): String = {
      val sb = new StringBuilder
      var hi = -1
      var done = false
      while (!done) {
        require(pos < end, "unterminated hex string")
        val c = buf(pos); pos += 1
        if (c == '>') {
          if (hi >= 0) sb.append((hi << 4).toChar) // odd count: trailing 0
          done = true
        } else if (!isWs(c)) {
          val v = Character.digit(c, 16)
          require(v >= 0, s"bad hex digit '${c.toChar}'")
          if (hi < 0) hi = v else { sb.append(((hi << 4) | v).toChar); hi = -1 }
        }
      }
      sb.toString
    }
  }

  // ---- object model -------------------------------------------------------

  private[pdf] sealed trait PObj
  private[pdf] case class PNum(v: Double) extends PObj
  private[pdf] case class PName(v: String) extends PObj
  private[pdf] case class PStr(v: String) extends PObj
  private[pdf] case class PArr(items: Vector[PObj]) extends PObj
  private[pdf] case class PDict(m: Map[String, PObj]) extends PObj
  private[pdf] case class PRef(num: Int) extends PObj
  /** `rem` is the UNCONSUMED tail of the /Filter chain (with its
    * /DecodeParms): `data` is fully decoded when empty, and raw-from-the
    * unknown-filter point otherwise (DCTDecode passthrough). A re-writer
    * ([[PdfSlice]]) must emit `rem` as the new /Filter so the payload
    * round-trips byte-identically. */
  private[pdf] case class PStream(dict: PDict, data: Array[Byte],
      rem: Vector[(String, Option[PDict])] = Vector.empty) extends PObj
  private[pdf] case object PNull extends PObj

  /** Nesting cap: a crafted blob of a million '[' must error out as a
    * normal NonFatal parse failure, not a StackOverflowError the
    * per-document isolation catch can't absorb. */
  private val MaxDepth = 200

  /** Parse one object value; resolves `N G R` via token lookahead. */
  private def parseValue(lx: Lexer, first: Tok, depth: Int = 0): PObj = {
    require(depth < MaxDepth, "object nesting too deep")
    first match {
      case TNum(v) =>
        // possible reference: NUM NUM R
        val save = lx.pos
        lx.skipWs()
        val b = if (lx.pos < lx.end) lx.buf(lx.pos) else 0.toByte
        if (b >= '0' && b <= '9') {
          val save2 = lx.pos
          lx.next()
          lx.skipWs()
          if (lx.pos < lx.end && lx.buf(lx.pos) == 'R' &&
            (lx.pos + 1 >= lx.end || isWs(lx.buf(lx.pos + 1)) || isDelim(lx.buf(lx.pos + 1)))) {
            lx.pos += 1
            PRef(v.toInt)
          } else { lx.pos = save2; PNum(v) }
        } else { lx.pos = save; PNum(v) }
      case TName(n) => PName(n)
      case TStr(s) => PStr(s)
      case TArrO =>
        val items = Vector.newBuilder[PObj]
        var t = lx.next()
        while (t != TArrC) { items += parseValue(lx, t, depth + 1); t = lx.next() }
        PArr(items.result())
      case TDictO =>
        val m = Map.newBuilder[String, PObj]
        var t = lx.next()
        while (t != TDictC) {
          val key = t match {
            case TName(n) => n
            case other => sys.error(s"dict key must be a name, got $other")
          }
          m += key -> parseValue(lx, lx.next(), depth + 1)
          t = lx.next()
        }
        PDict(m.result())
      case TKw("null") => PNull
      case TKw("true") => PNum(1)
      case TKw("false") => PNum(0)
      case other => sys.error(s"unexpected token $other")
    }
  }

  // ---- stream filters -----------------------------------------------------

  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(data)
    val out = new java.io.ByteArrayOutputStream(data.length * 3 + 16)
    val buf = new Array[Byte](4096)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      require(n > 0 || inf.finished(), "truncated Flate stream")
      out.write(buf, 0, n)
    }
    inf.end()
    out.toByteArray
  }

  private def asciiHexDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 1)
    var hi = -1
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = data(i)
      if (c == '>') { if (hi >= 0) out.write(hi << 4); done = true }
      else if (!isWs(c)) {
        val v = Character.digit(c, 16)
        require(v >= 0, s"bad ASCIIHex digit '${c.toChar}'")
        if (hi < 0) hi = v else { out.write((hi << 4) | v); hi = -1 }
      }
      i += 1
    }
    out.toByteArray
  }

  private def ascii85Decode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 4 / 5 + 4)
    var tuple = 0L
    var count = 0
    var i = 0
    // optional <~ prologue
    if (data.length >= 2 && data(0) == '<' && data(1) == '~') i = 2
    var done = false
    while (i < data.length && !done) {
      val c = data(i)
      if (c == '~') done = true // ~> epilogue
      else if (c == 'z' && count == 0) { out.write(0); out.write(0); out.write(0); out.write(0) }
      else if (!isWs(c)) {
        require(c >= '!' && c <= 'u', s"bad ASCII85 byte '${c.toChar}'")
        tuple = tuple * 85 + (c - '!')
        count += 1
        if (count == 5) {
          out.write(((tuple >> 24) & 0xff).toInt); out.write(((tuple >> 16) & 0xff).toInt)
          out.write(((tuple >> 8) & 0xff).toInt); out.write((tuple & 0xff).toInt)
          tuple = 0; count = 0
        }
      }
      i += 1
    }
    if (count > 0) { // partial final group: pad with 'u', emit count-1 bytes
      (count until 5).foreach(_ => tuple = tuple * 85 + 84)
      val bytes = Array(((tuple >> 24) & 0xff).toByte, ((tuple >> 16) & 0xff).toByte,
        ((tuple >> 8) & 0xff).toByte, (tuple & 0xff).toByte)
      out.write(bytes, 0, count - 1)
    }
    out.toByteArray
  }

  /** PNG (10-15) and TIFF (2) predictors over decoded bytes (§7.4.4.4,
    * shared by FlateDecode and LZWDecode parms). */
  private def applyPredictor(data: Array[Byte], predictor: Int, colors: Int,
      bpc: Int, columns: Int): Array[Byte] = {
    if (predictor < 2) return data
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = (columns * colors * bpc + 7) / 8
    if (predictor == 2) { // TIFF horizontal differencing (8-bit components)
      require(bpc == 8, s"TIFF predictor with bpc=$bpc unsupported")
      val out = data.clone()
      var r = 0
      while ((r + 1) * rowLen <= out.length) {
        val base = r * rowLen
        var i = bpp
        while (i < rowLen) {
          out(base + i) = ((out(base + i) + out(base + i - bpp)) & 0xff).toByte
          i += 1
        }
        r += 1
      }
      return out
    }
    // PNG: each row is 1 filter-type byte + rowLen data bytes
    val nRows = data.length / (rowLen + 1)
    val out = new Array[Byte](nRows * rowLen)
    val prior = new Array[Byte](rowLen)
    var r = 0
    while (r < nRows) {
      val ft = data(r * (rowLen + 1)) & 0xff
      val src = r * (rowLen + 1) + 1
      val dst = r * rowLen
      var i = 0
      while (i < rowLen) {
        val raw = data(src + i) & 0xff
        val left = if (i >= bpp) out(dst + i - bpp) & 0xff else 0
        val up = prior(i) & 0xff
        val upLeft = if (i >= bpp) prior(i - bpp) & 0xff else 0
        val rec = ft match {
          case 0 => raw
          case 1 => raw + left
          case 2 => raw + up
          case 3 => raw + (left + up) / 2
          case 4 => // Paeth
            val p = left + up - upLeft
            val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - upLeft)
            raw + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else upLeft)
          case other => sys.error(s"bad PNG filter type $other")
        }
        out(dst + i) = (rec & 0xff).toByte
        i += 1
      }
      System.arraycopy(out, dst, prior, 0, rowLen)
      r += 1
    }
    out
  }

  // ---- document -----------------------------------------------------------

  /** Where an object lives: directly in the file, or inside an object
    * stream (§7.5.7). */
  private sealed trait Loc
  private case class Direct(off: Int) extends Loc
  private case class InStm(stm: Int, idx: Int) extends Loc

  private[pdf] final class Pdf(val buf: Array[Byte]) {
    private var offsets: Map[Int, Loc] = Map.empty
    private var trailer0: PDict = PDict(Map.empty)
    private val cache = scala.collection.mutable.Map[Int, PObj]()
    private val objstmCache = scala.collection.mutable.Map[Int, Vector[PObj]]()
    private val objstmInProgress = scala.collection.mutable.Set[Int]()

    // normal xref walk first; ANY failure (bad offsets, truncated tables,
    // cyclic garbage) falls back to the recovery sweep, as pdfium does.
    // A chain that "succeeds" but yields no /Root also recovers.
    try {
      val (o, t) = readAllXref()
      offsets = o; trailer0 = t
      if (!trailer0.m.contains("Root")) sys.error("no /Root in trailer chain")
      resolve(trailer0.m("Root")) match {
        case _: PDict => ()
        case other => sys.error(s"/Root resolves to $other")
      }
    } catch {
      case scala.util.control.NonFatal(_) =>
        cache.clear(); objstmCache.clear()
        val (o, t) = recoveryScan()
        offsets = o; trailer0 = t
    }

    def trailer: PDict = trailer0

    private def lastIndexOf(s: String): Int = {
      val pat = s.getBytes("ISO-8859-1")
      var i = buf.length - pat.length
      while (i >= 0) {
        var j = 0
        while (j < pat.length && buf(i + j) == pat(j)) j += 1
        if (j == pat.length) return i
        i -= 1
      }
      sys.error(s"'$s' not found")
    }

    /** Walk the /Prev chain from the LAST startxref: each section is a
      * classic table + trailer or a cross-reference STREAM (§7.5.8).
      * Sections are read newest-first and an entry never overrides one
      * already seen — incremental updates win (§7.5.6). Visited offsets
      * are tracked: a cyclic /Prev chain terminates instead of looping
      * (crawl-robustness: one bad blob must not hang the task). */
    private def readAllXref(): (Map[Int, Loc], PDict) = {
      val sxPos = lastIndexOf("startxref")
      val lx0 = new Lexer(buf, sxPos + "startxref".length, buf.length)
      var pos = (lx0.next(): @unchecked) match { case TNum(v) => v.toInt }
      val out = scala.collection.mutable.Map[Int, Loc]()
      val seen = scala.collection.mutable.Set[Int]()
      var trailerAcc: PDict = null
      while (pos >= 0 && pos < buf.length && seen.add(pos)) {
        val (entries, tdict) = readSection(pos)
        entries.foreach { case (n, loc) =>
          if (!out.contains(n)) out(n) = loc
        }
        if (trailerAcc == null) trailerAcc = tdict
        // hybrid-reference files: /XRefStm points at the xref STREAM twin
        // of a classic section — read it too (same never-override rule)
        tdict.m.get("XRefStm").foreach { case PNum(p) if seen.add(p.toInt) =>
          val (se, _) = readSection(p.toInt)
          se.foreach { case (n, loc) => if (!out.contains(n)) out(n) = loc }
        case _ => ()
        }
        pos = tdict.m.get("Prev") match {
          case Some(PNum(p)) => p.toInt
          case _ => -1
        }
      }
      require(trailerAcc != null, "empty xref chain")
      (out.toMap, trailerAcc)
    }

    private def readSection(xrefPos: Int): (Vector[(Int, Loc)], PDict) = {
      val lx = new Lexer(buf, xrefPos, buf.length)
      lx.skipWs()
      if (buf(lx.pos) == 'x') {
        // classic table
        (lx.next(): @unchecked) match { case TKw("xref") => () }
        val out = Vector.newBuilder[(Int, Loc)]
        var done = false
        while (!done) {
          lx.skipWs()
          val b = if (lx.pos < lx.end) lx.buf(lx.pos) else -1
          if (b >= '0' && b <= '9') {
            val start = (lx.next(): @unchecked) match { case TNum(v) => v.toInt }
            val count = (lx.next(): @unchecked) match { case TNum(v) => v.toInt }
            (0 until count).foreach { i =>
              lx.skipWs()
              // 20-byte entries: 10-digit offset, 5-digit gen, n/f
              val off = new String(buf, lx.pos, 10, "ISO-8859-1").toInt
              val kind = buf(lx.pos + 17).toChar
              lx.pos += 18
              if (kind == 'n') out += (start + i) -> Direct(off)
            }
          } else done = true
        }
        (lx.next(): @unchecked) match { case TKw("trailer") => () }
        val tdict = parseValue(lx, lx.next()).asInstanceOf[PDict]
        (out.result(), tdict)
      } else {
        // cross-reference STREAM: an indirect stream object whose dict IS
        // the trailer; /Length must be direct (xref bootstrap)
        val st = (parseObjectAt(xrefPos, requireDirectLength = true): @unchecked) match {
          case s: PStream => s
        }
        def arr(o: PObj): Vector[PObj] = (o: @unchecked) match { case PArr(v) => v }
        def n(o: PObj): Int = (o: @unchecked) match { case PNum(v) => v.toInt }
        val size = n(st.dict.m("Size"))
        val w = arr(st.dict.m("W")).map(n)
        require(w.length == 3, s"bad /W $w")
        val index = st.dict.m.get("Index").map(arr(_).map(n))
          .getOrElse(Vector(0, size))
        val data = st.data
        val rowLen = w.sum
        val out = Vector.newBuilder[(Int, Loc)]
        var row = 0
        index.grouped(2).foreach { case Vector(start, count) =>
          (0 until count).foreach { i =>
            val base = row * rowLen
            require(base + rowLen <= data.length, "truncated xref stream")
            var p = base
            def field(width: Int): Int = {
              var v = 0
              (0 until width).foreach { k => v = (v << 8) | (data(p + k) & 0xff) }
              p += width
              v
            }
            val t = if (w(0) == 0) 1 else field(w(0))
            val f2 = field(w(1))
            val f3 = field(w(2))
            t match {
              case 1 => out += (start + i) -> Direct(f2)
              case 2 => out += (start + i) -> InStm(f2, f3)
              case _ => () // type 0: free
            }
            row += 1
          }
        }
        (out.result(), st.dict)
      }
    }

    /** Recovery: sweep the whole file for `N G obj` headers (later
      * occurrences win — incremental-update order), register object-stream
      * members, and take /Root from the last `trailer` dict or, failing
      * that, from the object whose dict is /Type /Catalog. This is the
      * pdfium rebuild path for files with broken or missing xref. */
    private def recoveryScan(): (Map[Int, Loc], PDict) = {
      val out = scala.collection.mutable.Map[Int, Loc]()
      var i = 0
      val n = buf.length
      while (i + 2 < n) {
        if (buf(i) == 'o' && buf(i + 1) == 'b' && buf(i + 2) == 'j' &&
          (i + 3 >= n || isWs(buf(i + 3)) || isDelim(buf(i + 3))) &&
          i > 0 && isWs(buf(i - 1))) {
          // backtrack: ws, gen digits, ws, num digits
          var j = i - 1
          while (j >= 0 && isWs(buf(j))) j -= 1
          val genEnd = j
          while (j >= 0 && buf(j) >= '0' && buf(j) <= '9') j -= 1
          if (j < genEnd) {
            var k = j
            while (k >= 0 && isWs(buf(k))) k -= 1
            val numEnd = k
            while (k >= 0 && buf(k) >= '0' && buf(k) <= '9') k -= 1
            if (k < numEnd && (k < 0 || isWs(buf(k)) || isDelim(buf(k)))) {
              val num = new String(buf, k + 1, numEnd - k, "ISO-8859-1").toInt
              out(num) = Direct(k + 1) // later occurrence overwrites
            }
          }
        }
        i += 1
      }
      offsets = out.toMap // visible to obj() for the ObjStm/trailer passes
      // register object-stream members for numbers the sweep didn't see
      out.toVector.foreach { case (num, _) =>
        try {
          obj(num) match {
            case PStream(d, _, _) if d.m.get("Type").contains(PName("ObjStm")) =>
              val members = objstmMemberNums(num)
              members.zipWithIndex.foreach { case (m, idx) =>
                if (!out.contains(m)) out(m) = InStm(num, idx)
              }
            case _ => ()
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }
      offsets = out.toMap
      // trailer: last parseable `trailer` dict with /Root wins
      var root: Option[PObj] = None
      var t = n - 7
      while (t >= 0 && root.isEmpty) {
        if (buf(t) == 't' && new String(buf, t, 7, "ISO-8859-1") == "trailer") {
          try {
            val lx = new Lexer(buf, t + 7, n)
            parseValue(lx, lx.next()) match {
              case PDict(m) if m.contains("Root") => root = Some(m("Root"))
              case _ => ()
            }
          } catch { case scala.util.control.NonFatal(_) => () }
        }
        t -= 1
      }
      if (root.isEmpty) {
        // xref-stream files have no `trailer` keyword: any /Root in an
        // XRef stream dict, else the /Type /Catalog object itself
        offsets.keys.toVector.sorted.foreach { num =>
          if (root.isEmpty) try {
            obj(num) match {
              case PStream(d, _, _) if d.m.contains("Root") => root = Some(d.m("Root"))
              case PDict(m) if m.get("Type").contains(PName("Catalog")) =>
                root = Some(PRef(num))
              case _ => ()
            }
          } catch { case scala.util.control.NonFatal(_) => () }
        }
      }
      (offsets, PDict(Map("Root" -> root.getOrElse(sys.error("no catalog found in recovery")))))
    }

    /** Parse `N G obj …` at a byte offset (stream payload included). */
    private def parseObjectAt(off: Int, requireDirectLength: Boolean = false): PObj = {
      val lx = new Lexer(buf, off, buf.length)
      lx.next() // object number (validated by the caller when known)
      lx.next() // generation
      (lx.next(): @unchecked) match { case TKw("obj") => () }
      val v = parseValue(lx, lx.next())
      lx.skipWs()
      v match {
        case d: PDict if lx.pos + 6 <= lx.end &&
          new String(buf, lx.pos, 6, "ISO-8859-1") == "stream" =>
          lx.pos += 6
          if (buf(lx.pos) == '\r') lx.pos += 1
          if (buf(lx.pos) == '\n') lx.pos += 1
          val len0 = d.m.get("Length") match {
            case Some(PNum(l)) => l.toInt
            case Some(ref) if !requireDirectLength =>
              try numOf(resolve(ref)).toInt catch {
                case scala.util.control.NonFatal(_) => -1 // broken: endstream scan
              }
            case None => -1
            case other => sys.error(s"xref stream needs a direct /Length, got $other")
          }
          val len =
            if (len0 >= 0 && lx.pos + len0 <= buf.length) len0
            else { // recover the payload length from the endstream keyword
              val idx = indexOfFrom("endstream", lx.pos)
              require(idx >= 0, "stream without endstream")
              var e = idx
              if (e > lx.pos && buf(e - 1) == '\n') e -= 1
              if (e > lx.pos && buf(e - 1) == '\r') e -= 1
              e - lx.pos
            }
          val raw = java.util.Arrays.copyOfRange(buf, lx.pos, lx.pos + len)
          val (data, rem) = decodeStream(d, raw)
          PStream(d, data, rem)
        case _ => v
      }
    }

    private def indexOfFrom(s: String, from: Int): Int = {
      val pat = s.getBytes("ISO-8859-1")
      var i = math.max(0, from)
      while (i + pat.length <= buf.length) {
        var j = 0
        while (j < pat.length && buf(i + j) == pat(j)) j += 1
        if (j == pat.length) return i
        i += 1
      }
      -1
    }

    /** Run the /Filter chain: known filters decode (with /DecodeParms
      * predictors); the first UNKNOWN filter stops the chain and the bytes
      * pass through as-is — a /DCTDecode image keeps its raw JPEG bytes
      * (the media_ref hash contract needs no pixel decode), and a broken
      * exotic stream degrades per-page instead of killing the document. */
    private def decodeStream(
        d: PDict, raw: Array[Byte]): (Array[Byte], Vector[(String, Option[PDict])]) = {
      val filters: Vector[String] = d.m.get("Filter").map(resolve) match {
        case Some(PName(f)) => Vector(f)
        case Some(PArr(items)) => items.map(i => (resolve(i): @unchecked) match {
          case PName(f) => f
        })
        case _ => Vector.empty
      }
      val parms: Vector[Option[PDict]] = d.m.get("DecodeParms")
        .orElse(d.m.get("DP")).map(resolve) match {
        case Some(p: PDict) => Vector(Some(p))
        case Some(PArr(items)) => items.map(resolve(_) match {
          case p: PDict => Some(p)
          case _ => None
        })
        case _ => Vector.empty
      }
      var data = raw
      var i = 0
      var halt = false
      while (i < filters.length && !halt) {
        val parm = parms.lift(i).flatten
        def pInt(key: String, dflt: Int): Int = parm.flatMap(_.m.get(key))
          .map(numOf(_).toInt).getOrElse(dflt)
        filters(i) match {
          case "FlateDecode" | "Fl" =>
            data = applyPredictor(inflate(data), pInt("Predictor", 1),
              pInt("Colors", 1), pInt("BitsPerComponent", 8), pInt("Columns", 1))
          case "ASCIIHexDecode" | "AHx" => data = asciiHexDecode(data)
          case "ASCII85Decode" | "A85" => data = ascii85Decode(data)
          case _ => halt = true // DCTDecode, JPXDecode, CCITT, LZW, …: passthrough
        }
        i += 1
      }
      val rem =
        if (!halt) Vector.empty[(String, Option[PDict])]
        else (i - 1 until filters.length).toVector
          .map(k => (filters(k), parms.lift(k).flatten))
      (data, rem)
    }

    private def objstmStream(stmNum: Int): PStream = {
      require(objstmInProgress.add(stmNum), s"object stream $stmNum references itself")
      try (obj(stmNum): @unchecked) match { case s: PStream => s }
      finally objstmInProgress.remove(stmNum)
    }

    /** Member object numbers of an object stream, in index order. */
    private def objstmMemberNums(stmNum: Int): Vector[Int] = {
      val st = objstmStream(stmNum)
      val count = (st.dict.m("N"): @unchecked) match { case PNum(v) => v.toInt }
      val first = (st.dict.m("First"): @unchecked) match { case PNum(v) => v.toInt }
      val hx = new Lexer(st.data, 0, first)
      Vector.fill(count) {
        val n = (hx.next(): @unchecked) match { case TNum(v) => v.toInt }
        hx.next() // offset (positional lookup reads it in objstmObjects)
        n
      }
    }

    /** Objects of an object stream: "num off …" header then the bare
      * serialized objects at /First + off. */
    private def objstmObjects(stmNum: Int): Vector[PObj] =
      objstmCache.getOrElseUpdate(stmNum, {
        val st = objstmStream(stmNum)
        val count = (st.dict.m("N"): @unchecked) match { case PNum(v) => v.toInt }
        val first = (st.dict.m("First"): @unchecked) match { case PNum(v) => v.toInt }
        val hx = new Lexer(st.data, 0, first)
        val offs = Vector.fill(count) {
          hx.next() // object number (positional — index locates it)
          (hx.next(): @unchecked) match { case TNum(v) => v.toInt }
        }
        offs.map { off =>
          val ox = new Lexer(st.data, first + off, st.data.length)
          parseValue(ox, ox.next())
        }
      })

    /** A DANGLING reference (object number absent from the xref) resolves
      * to the null object, exactly pdfium's GetIndirectObject behavior —
      * real crawl PDFs carry them in /Resources, and erroring here costs
      * whole pages where pdfium merely loses one resource. Objects that
      * EXIST but fail to parse still throw (real corruption). */
    def obj(num: Int): PObj = cache.getOrElseUpdate(num, {
      offsets.get(num) match {
        case None => PNull
        case Some(Direct(off)) => parseObjectAt(off)
        case Some(InStm(stm, idx)) => objstmObjects(stm)(idx)
      }
    })

    /** Iterative with a visited set: a reference cycle (A → B → A) errors
      * out as a NonFatal parse failure instead of overflowing the stack. */
    def resolve(o: PObj): PObj = {
      var cur = o
      var seen: Set[Int] = Set.empty
      while (cur.isInstanceOf[PRef]) {
        val n = cur.asInstanceOf[PRef].num
        require(!seen.contains(n), s"reference cycle at object $n")
        seen += n
        cur = obj(n)
      }
      cur
    }
    def numOf(o: PObj): Double = (resolve(o): @unchecked) match { case PNum(v) => v }
    def dict(o: PObj): PDict = (resolve(o): @unchecked) match {
      case d: PDict => d
      case PStream(d, _, _) => d
    }

    /** Pages in kid order (nested page trees flattened depth-first), each
      * with INHERITED attributes (/Resources /MediaBox /Rotate — §7.7.3.4)
      * merged in. A self-referencing page tree terminates via the visited
      * set instead of recursing forever. */
    def pages(): Vector[PDict] = {
      val inheritable = Vector("Resources", "MediaBox", "Rotate")
      val seen = scala.collection.mutable.Set[PObj]()
      def walk(ref: PObj, inherited: Map[String, PObj]): Vector[PDict] = {
        if (!seen.add(ref)) return Vector.empty
        val node = dict(ref)
        val inh = inherited ++ node.m.view.filterKeys(inheritable.contains)
        node.m.get("Type") match {
          case Some(PName("Pages")) =>
            (resolve(node.m("Kids")): @unchecked) match {
              case PArr(kids) => kids.flatMap(k => walk(k, inh))
            }
          case _ => Vector(PDict(inh ++ node.m))
        }
      }
      val root = dict(trailer.m("Root"))
      walk(root.m("Pages"), Map.empty)
    }

    /** Concatenated decoded content bytes of a page (array joined with a
      * newline — streams are independent whitespace-separated op runs). */
    def contentOf(page: PDict): Array[Byte] = {
      val parts: Vector[Array[Byte]] = page.m.get("Contents").map(resolve) match {
        case Some(PStream(_, data, _)) => Vector(data)
        case Some(PArr(items)) => items.map(i => (resolve(i): @unchecked) match {
          case PStream(_, data, _) => data
        })
        case None => Vector.empty // a page with no content is legal
        case Some(other) => sys.error(s"bad /Contents $other")
      }
      val out = new java.io.ByteArrayOutputStream()
      parts.foreach { p => out.write(p); out.write('\n') }
      out.toByteArray
    }

    /** name -> image stream bytes for the page's XObject resources. */
    def xobjectsOf(page: PDict): Map[String, Array[Byte]] =
      page.m.get("Resources").map(dict).flatMap(_.m.get("XObject")).map(dict) match {
        case Some(xd) => xd.m.flatMap { case (name, ref) =>
          resolve(ref) match {
            case PStream(_, d, _) => Some(name -> d)
            case _ => None
          }
        }
        case None => Map.empty
      }

    /** decoders cached per font OBJECT: a 10-page document re-uses the
      * same /Font dict on every page, and the ToUnicode CMap parse is the
      * expensive part (bench r5: uncached CMaps doubled pdf_extract). */
    private val fontDecCache = scala.collection.mutable.Map[PObj, FontDec]()

    /** name -> text decoder for the page's font resources. */
    def fontsOf(page: PDict): Map[String, FontDec] =
      page.m.get("Resources").map(dict).flatMap(_.m.get("Font")).map(dict) match {
        case Some(fd) => fd.m.flatMap { case (name, ref) =>
          try Some(name -> fontDecCache.getOrElseUpdate(ref, fontDec(dict(ref))))
          catch { case scala.util.control.NonFatal(_) => None }
        }
        case None => Map.empty
      }

    private def fontDec(font: PDict): FontDec = {
      val subtype = font.m.get("Subtype").collect { case PName(s) => s }
      val encName = resolve(font.m.getOrElse("Encoding", PNull)) match {
        case PName(e) => Some(e)
        case _ => None
      }
      val isType0 = subtype.contains("Type0")
      val twoByte = isType0 // Identity-H/V and CMap-encoded composite fonts
      // codespace width from the CMap when present (a 1-byte CMap on a
      // Type0 font exists in the wild); Identity-* default to 2
      val (cmapWidth, toUni) = font.m.get("ToUnicode").map(resolve) match {
        case Some(PStream(_, data, _)) => parseCMap(data)
        case _ => (0, Map.empty[Int, String])
      }
      val width = if (cmapWidth > 0) cmapWidth else if (twoByte) 2 else 1
      val diffs: Map[Int, String] = resolve(font.m.getOrElse("Encoding", PNull)) match {
        case PDict(em) => em.get("Differences").map(resolve) match {
          case Some(PArr(items)) =>
            val out = Map.newBuilder[Int, String]
            var code = 0
            items.foreach {
              case PNum(v) => code = v.toInt
              case PName(g) => Glyphs.toUnicode(g).foreach(u => out += code -> u)
                code += 1
              case _ => ()
            }
            out.result()
          case _ => Map.empty
        }
        case _ => Map.empty
      }
      val baseEnc = resolve(font.m.getOrElse("Encoding", PNull)) match {
        case PDict(em) => em.get("BaseEncoding").collect { case PName(e) => e }
        case _ => encName
      }
      new FontDec(width, toUni, diffs, baseEnc.getOrElse(""))
    }

    /** Link annotations of a page: (x0, y0, x1, y1, target). /A /URI and
      * named /Dest targets both carry through (§12.5.6.5, §12.6.4.7). */
    def linksOf(page: PDict): Vector[(Double, Double, Double, Double, String)] =
      page.m.get("Annots").map(resolve) match {
        case Some(PArr(items)) => items.flatMap { ref =>
          try {
            val a = dict(ref)
            if (!a.m.get("Subtype").contains(PName("Link"))) None
            else {
              val r = (resolve(a.m("Rect")): @unchecked) match {
                case PArr(v) => v.map(numOf)
              }
              val target = a.m.get("A").map(dict).flatMap(_.m.get("URI")).map(resolve) match {
                case Some(PStr(u)) => Some(u)
                case _ => a.m.get("Dest").map(resolve) match {
                  case Some(PStr(d)) => Some("#" + d)
                  case Some(PName(d)) => Some("#" + d)
                  case _ => None
                }
              }
              target.map(t => (math.min(r(0), r(2)), math.min(r(1), r(3)),
                math.max(r(0), r(2)), math.max(r(1), r(3)), t))
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        }
        case _ => Vector.empty
      }
  }

  // ---- fonts --------------------------------------------------------------

  /** Per-font text decoder: raw PDF string bytes → unicode. Precedence per
    * code: ToUnicode CMap, /Differences glyph name, WinAnsi high range,
    * identity. A simple font with NO mapping at all falls back to
    * reinterpreting the whole byte string as UTF-8 (emitters that write
    * unicode text with unembedded base-14 fonts), latin-1 on malformed. */
  final class FontDec(val bytesPerCode: Int, toUni: Map[Int, String],
      diffs: Map[Int, String], baseEnc: String) {
    private val unmapped = toUni.isEmpty && diffs.isEmpty

    def decode(raw: String): String = {
      if (bytesPerCode == 1 && unmapped) return FontDec.utf8OrLatin1(raw)
      val sb = new StringBuilder(raw.length)
      var i = 0
      while (i + bytesPerCode <= raw.length) {
        var code = 0
        var k = 0
        while (k < bytesPerCode) { code = (code << 8) | (raw.charAt(i + k) & 0xff); k += 1 }
        toUni.get(code).orElse(diffs.get(code)) match {
          case Some(u) => sb.append(u)
          case None =>
            if (bytesPerCode == 1) {
              if (baseEnc == "WinAnsiEncoding" && code >= 0x80 && code <= 0x9f)
                sb.append(FontDec.cp1252High(code - 0x80))
              else sb.append(code.toChar)
            }
            // unmapped composite code: glyph has no text meaning we can
            // recover; drop rather than emit garbage CID numbers
        }
        i += bytesPerCode
      }
      sb.toString
    }
  }

  private object FontDec {
    val fallback = new FontDec(1, Map.empty, Map.empty, "")

    /** cp1252 0x80-0x9F (WinAnsi differs from latin-1 only here). */
    val cp1252High: Array[Char] =
      "€‚ƒ„…†‡ˆ‰Š‹ŒŽ‘’“”•–—˜™š›œžŸ".toCharArray

    def utf8OrLatin1(raw: String): String = {
      var ascii = true
      var i = 0
      while (ascii && i < raw.length) { if (raw.charAt(i) >= 0x80) ascii = false; i += 1 }
      if (ascii) return raw
      val bytes = new Array[Byte](raw.length)
      i = 0
      while (i < raw.length) { bytes(i) = raw.charAt(i).toByte; i += 1 }
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      try dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      catch { case _: java.nio.charset.CharacterCodingException => raw }
    }
  }

  /** Parse a ToUnicode CMap: (codespace byte width, code → unicode).
    * Token-scans for begincodespacerange / beginbfchar / beginbfrange
    * sections (§9.10.3); the surrounding PostScript boilerplate tokenizes
    * away. Destinations are UTF-16BE byte strings. */
  private def parseCMap(data: Array[Byte]): (Int, Map[Int, String]) = {
    val lx = new Lexer(data, 0, data.length)
    val out = Map.newBuilder[Int, String]
    var width = 0
    def codeOf(s: String): Int = {
      var v = 0
      var i = 0
      while (i < s.length) { v = (v << 8) | (s.charAt(i) & 0xff); i += 1 }
      v
    }
    def utf16(s: String): String = {
      val bytes = new Array[Byte](s.length)
      var i = 0
      while (i < s.length) { bytes(i) = s.charAt(i).toByte; i += 1 }
      new String(bytes, "UTF-16BE")
    }
    try {
      while ({ lx.skipWs(); lx.pos < lx.end }) {
        lx.next() match {
          case TKw("begincodespacerange") =>
            var t = lx.next()
            while (t != TKw("endcodespacerange")) {
              t match {
                case TStr(lo) => if (width == 0) width = lo.length
                case _ => ()
              }
              t = lx.next()
            }
          case TKw("beginbfchar") =>
            var t = lx.next()
            while (t != TKw("endbfchar")) {
              val src = (t: @unchecked) match { case TStr(s) => s }
              val dst = (lx.next(): @unchecked) match { case TStr(s) => s }
              out += codeOf(src) -> utf16(dst)
              t = lx.next()
            }
          case TKw("beginbfrange") =>
            var t = lx.next()
            while (t != TKw("endbfrange")) {
              val lo = (t: @unchecked) match { case TStr(s) => codeOf(s) }
              val hi = (lx.next(): @unchecked) match { case TStr(s) => codeOf(s) }
              lx.next() match {
                case TStr(dst0) =>
                  val base = utf16(dst0)
                  // increment the LAST code unit across the range (§9.10.3)
                  (lo to hi).foreach { c =>
                    if (base.isEmpty) ()
                    else if (c == lo) out += c -> base
                    else out += c -> (base.substring(0, base.length - 1) +
                      (base.last + (c - lo)).toChar)
                  }
                case TArrO =>
                  var c = lo
                  var e = lx.next()
                  while (e != TArrC) {
                    e match {
                      case TStr(dst) => if (c <= hi) { out += c -> utf16(dst); c += 1 }
                      case _ => ()
                    }
                    e = lx.next()
                  }
                case _ => ()
              }
              t = lx.next()
            }
          case _ => () // boilerplate: findresource, begin, def, dicts, …
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () } // keep what parsed
    (width, out.result())
  }

  /** Adobe glyph list subset: the names /Differences arrays actually use
    * for latin text plus the math/symbol names in scholarly PDFs. `uniXXXX`
    * and `uXXXX[XX]` forms parse generically. */
  private object Glyphs {
    private val table: Map[String, String] = Map(
      "space" -> " ", "exclam" -> "!", "quotedbl" -> "\"", "numbersign" -> "#",
      "dollar" -> "$", "percent" -> "%", "ampersand" -> "&", "quotesingle" -> "'",
      "parenleft" -> "(", "parenright" -> ")", "asterisk" -> "*", "plus" -> "+",
      "comma" -> ",", "hyphen" -> "-", "period" -> ".", "slash" -> "/",
      "zero" -> "0", "one" -> "1", "two" -> "2", "three" -> "3", "four" -> "4",
      "five" -> "5", "six" -> "6", "seven" -> "7", "eight" -> "8", "nine" -> "9",
      "colon" -> ":", "semicolon" -> ";", "less" -> "<", "equal" -> "=",
      "greater" -> ">", "question" -> "?", "at" -> "@", "bracketleft" -> "[",
      "backslash" -> "\\", "bracketright" -> "]", "asciicircum" -> "^",
      "underscore" -> "_", "grave" -> "`", "braceleft" -> "{", "bar" -> "|",
      "braceright" -> "}", "asciitilde" -> "~",
      "quoteleft" -> "‘", "quoteright" -> "’",
      "quotedblleft" -> "“", "quotedblright" -> "”",
      "endash" -> "–", "emdash" -> "—", "bullet" -> "•",
      "ellipsis" -> "…", "fi" -> "ﬁ", "fl" -> "ﬂ",
      "ff" -> "ﬀ", "ffi" -> "ﬃ", "ffl" -> "ﬄ",
      "degree" -> "°", "periodcentered" -> "·", "macron" -> "¯",
      "minus" -> "−", "multiply" -> "×", "divide" -> "÷",
      "plusminus" -> "±", "lambda" -> "λ", "mu" -> "μ",
      "alpha" -> "α", "beta" -> "β", "gamma" -> "γ",
      "delta" -> "δ", "epsilon" -> "ε", "theta" -> "θ",
      "pi" -> "π", "sigma" -> "σ", "phi" -> "φ",
      "omega" -> "ω", "Delta" -> "Δ", "Sigma" -> "Σ",
      "Omega" -> "Ω", "arrowleft" -> "←", "arrowright" -> "→",
      "germandbls" -> "ß", "adieresis" -> "ä", "odieresis" -> "ö",
      "udieresis" -> "ü", "Adieresis" -> "Ä", "Odieresis" -> "Ö",
      "Udieresis" -> "Ü", "eacute" -> "é", "egrave" -> "è",
      "agrave" -> "à", "ccedilla" -> "ç", "ntilde" -> "ñ",
      "sterling" -> "£", "yen" -> "¥", "Euro" -> "€",
      "copyright" -> "©", "registered" -> "®", "trademark" -> "™",
      "section" -> "§", "paragraph" -> "¶", "dagger" -> "†",
      "daggerdbl" -> "‡", "exclamdown" -> "¡", "questiondown" -> "¿")

    def toUnicode(name: String): Option[String] = {
      if (name.length == 1) return Some(name) // a-z A-Z 0-9 glyph names
      table.get(name).orElse {
        if (name.startsWith("uni") && name.length >= 7)
          try Some(Integer.parseInt(name.substring(3, 7), 16).toChar.toString)
          catch { case _: NumberFormatException => None }
        else if (name.startsWith("u") && name.length >= 5 && name.length <= 7)
          try Some(new String(Character.toChars(Integer.parseInt(name.substring(1), 16))))
          catch { case _: Exception => None }
        else None
      }
    }
  }

  // ---- matrices -----------------------------------------------------------

  /** PDF affine matrix [a b c d e f]: x' = a·x + c·y + e; y' = b·x + d·y + f. */
  private final case class Mat(a: Double, b: Double, c: Double, d: Double,
      e: Double, f: Double) {
    def apply(x: Double, y: Double): (Double, Double) =
      (a * x + c * y + e, b * x + d * y + f)
    /** this THEN that (row-vector convention: p · this · that). */
    def andThen(that: Mat): Mat = Mat(
      a * that.a + b * that.c, a * that.b + b * that.d,
      c * that.a + d * that.c, c * that.b + d * that.d,
      e * that.a + f * that.c + that.e, e * that.b + f * that.d + that.f)
    def scaleMag: Double = math.hypot(a, b)
  }
  private object Mat {
    val id = Mat(1, 0, 0, 1, 0, 0)
    def translate(tx: Double, ty: Double) = Mat(1, 0, 0, 1, tx, ty)
    /** display-rotation by `deg` clockwise (page /Rotate normalization). */
    def rotateCw(deg: Int): Mat = ((deg % 360) + 360) % 360 match {
      case 90 => Mat(0, -1, 1, 0, 0, 0)
      case 180 => Mat(-1, 0, 0, -1, 0, 0)
      case 270 => Mat(0, 1, -1, 0, 0, 0)
      case _ => id
    }
  }

  // ---- content interpretation --------------------------------------------

  /** One positioned page element in DEVICE space. `rot` quantizes the
    * combined text-direction into 0/90/180/270 classes; (ux, uy) are the
    * upright-frame coordinates the block builder reads. */
  private sealed trait Elem { def rot: Int; def ux: Double; def uy: Double }
  private case class Frag(rot: Int, ux: Double, uy: Double, size: Double,
      font: String, text: String, devX: Double, devY: Double,
      var link: String = "") extends Elem
  private case class Img(rot: Int, ux: Double, uy: Double, h: Double,
      ref: String) extends Elem

  /** Upright-frame transform per rotation class: rotates device coords so
    * the class's text reads left-to-right, top-to-bottom. */
  private def upright(rot: Int, x: Double, y: Double): (Double, Double) = rot match {
    case 90 => (y, -x)
    case 180 => (-x, -y)
    case 270 => (-y, x)
    case _ => (x, y)
  }

  /** TJ adjustment at or past this (thousandths of an em) reads as an
    * inter-word space — the threshold classical text extractors use;
    * xdvipdfmx and other emitters encode ALL spaces as kerns. */
  private val SpaceKern = 180.0

  private def run(content: Array[Byte], xobjects: Map[String, Array[Byte]],
      fonts: Map[String, FontDec], pageRotate: Int): Vector[Elem] = {
    val lx = new Lexer(content, 0, content.length)
    val out = Vector.newBuilder[Elem]
    val operands = scala.collection.mutable.ArrayBuffer[PObj]()
    val base = Mat.rotateCw(pageRotate)
    var ctm = base
    val gsStack = scala.collection.mutable.ArrayBuffer[Mat]()
    var font = ""
    var fontDec = FontDec.fallback
    var size = 0.0
    var leading = 0.0
    var tlm = Mat.id // text LINE matrix (§9.4.2); Tm/Td/T* set it
    def popN(n: Int): Vector[Double] = {
      val vs = operands.takeRight(n).toVector.map {
        case PNum(v) => v
        case other => sys.error(s"number operand expected, got $other")
      }
      vs
    }
    def emit(text: String): Unit = if (text.nonEmpty) {
      val dm = tlm.andThen(ctm)
      val (dx, dy) = (dm.e, dm.f)
      val rot =
        if (math.abs(dm.a) >= math.abs(dm.b)) { if (dm.a >= 0) 0 else 180 }
        else { if (dm.b >= 0) 90 else 270 }
      val (ux, uy) = upright(rot, dx, dy)
      out += Frag(rot, ux, uy, size * dm.scaleMag, font, text, dx, dy)
    }
    def decode(o: PObj): String = (o: @unchecked) match { case PStr(s) => fontDec.decode(s) }
    def tjText(arr: PArr): String = {
      val sb = new StringBuilder
      arr.items.foreach {
        case PStr(s) => sb.append(fontDec.decode(s))
        case PNum(v) => if (v <= -SpaceKern) sb.append(' ')
        case _ => ()
      }
      sb.toString
    }
    /** inline image: skip `BI dict ID <binary> EI` at the byte level —
      * the binary payload must never reach the tokenizer. */
    def skipInlineImage(): Unit = {
      var t = lx.next()
      while (t != TKw("ID")) t = lx.next()
      var i = lx.pos + 1
      var found = -1
      while (found < 0 && i + 2 < content.length) {
        if (isWs(content(i)) && content(i + 1) == 'E' && content(i + 2) == 'I' &&
          (i + 3 >= content.length || isWs(content(i + 3)) || isDelim(content(i + 3))))
          found = i + 3
        i += 1
      }
      lx.pos = if (found >= 0) found else content.length
    }

    var tok: Tok = null
    while ({ lx.skipWs(); lx.pos < lx.end }) {
      tok = lx.next()
      tok match {
        case TKw(op) =>
          op match {
            case "BT" => tlm = Mat.id
            case "ET" => ()
            case "Tf" =>
              size = popN(1)(0)
              font = operands(operands.length - 2) match {
                case PName(n) => n
                case _ => font
              }
              fontDec = fonts.getOrElse(font, FontDec.fallback)
            case "Td" =>
              val v = popN(2); tlm = Mat.translate(v(0), v(1)).andThen(tlm)
            case "TD" =>
              val v = popN(2); tlm = Mat.translate(v(0), v(1)).andThen(tlm)
              leading = -v(1)
            case "Tm" =>
              val v = popN(6); tlm = Mat(v(0), v(1), v(2), v(3), v(4), v(5))
            case "TL" => leading = popN(1)(0)
            case "T*" => tlm = Mat.translate(0, -leading).andThen(tlm)
            case "Tj" => emit(decode(operands.last))
            case "TJ" => emit(tjText(operands.last.asInstanceOf[PArr]))
            case "'" =>
              tlm = Mat.translate(0, -leading).andThen(tlm)
              emit(decode(operands.last))
            case "\"" =>
              // aw ac string ": set word/char spacing (no metrics here),
              // move to the next line, show — dropping it would silently
              // lose text on real crawled PDFs
              tlm = Mat.translate(0, -leading).andThen(tlm)
              emit(decode(operands.last))
            case "q" => gsStack += ctm
            case "Q" => if (gsStack.nonEmpty) ctm = gsStack.remove(gsStack.length - 1)
            case "cm" =>
              val v = popN(6)
              ctm = Mat(v(0), v(1), v(2), v(3), v(4), v(5)).andThen(ctm)
            case "Do" =>
              operands.last match {
                case PName(name) => xobjects.get(name).foreach { data =>
                  // image origin maps the unit square through the CTM
                  val (x0, y0) = ctm(0, 0)
                  val (_, y1) = ctm(0, 1)
                  val rot =
                    if (math.abs(ctm.a) >= math.abs(ctm.b)) { if (ctm.a >= 0) 0 else 180 }
                    else { if (ctm.b >= 0) 90 else 270 }
                  val (ux, uy) = upright(rot, x0, math.max(y0, y1))
                  out += Img(rot, ux, uy, math.abs(y1 - y0), "img://" + graft.util.Sha256.hex(data))
                }
                case _ => ()
              }
            case "BI" => skipInlineImage()
            case _ => () // ops outside the text/image subset are no-ops
          }
          operands.clear()
        case other =>
          operands += parseValue(lx, other)
      }
    }
    out.result()
  }

  // ---- block recovery -----------------------------------------------------

  private val LeadingPt = 14.0

  /** One clustered baseline line (post fragment merge). */
  private case class TLine(rot: Int, x: Double, y: Double, size: Double,
      font: String, text: String, link: String)

  /** Cluster same-rotation fragments into baseline lines (0.4×size band),
    * join left-to-right; a gap beyond the estimated fragment width plus
    * 0.3×size inserts a space (table cells, column runs), a tighter gap
    * is a kern/sub-script continuation and joins bare. */
  private def toLines(frags: Vector[Frag]): Vector[TLine] = {
    if (frags.isEmpty) return Vector.empty
    val sorted = frags.sortBy(f => (-f.uy, f.ux))
    val lines = Vector.newBuilder[TLine]
    var cluster = Vector.empty[Frag]
    def flush(): Unit = if (cluster.nonEmpty) {
      val fs = cluster.sortBy(_.ux)
      val head = fs.maxBy(_.size)
      val sb = new StringBuilder
      var endX = fs.head.ux
      fs.zipWithIndex.foreach { case (f, i) =>
        if (i > 0) {
          val gap = f.ux - endX
          if (gap > 0.3 * head.size && sb.nonEmpty && sb.last != ' ') sb.append(' ')
        }
        sb.append(f.text)
        // width estimate: ~0.5 em per char (no glyph metrics carried)
        endX = f.ux + 0.5 * f.size * f.text.length
      }
      val link = fs.map(_.link).find(_.nonEmpty).getOrElse("")
      lines += TLine(head.rot, fs.head.ux, cluster.head.uy, head.size,
        head.font, sb.toString, link)
      cluster = Vector.empty
    }
    sorted.foreach { f =>
      val sameLine = cluster.nonEmpty &&
        (cluster.head.uy - f.uy) <= 0.4 * math.max(f.size, cluster.head.size)
      if (!sameLine) flush()
      cluster = cluster :+ f
    }
    flush()
    lines.result()
  }

  /** Group positioned lines into blocks and classify by the font-size
    * ladder; elements arrive y-sorted (descending) within a rotation
    * class, classes in first-appearance order. */
  private def toBlocks(elems: Vector[Elem]): Vector[OrderedBlock] = {
    val rotOrder = elems.map(_.rot).distinct
    val out = Vector.newBuilder[OrderedBlock]
    rotOrder.foreach { rot =>
      val here = elems.filter(_.rot == rot)
      val lines = toLines(here.collect { case f: Frag => f })
      val imgs = here.collect { case i: Img => i }
      val all: Vector[Either[TLine, Img]] =
        (lines.map(Left(_): Either[TLine, Img]) ++ imgs.map(Right(_)))
          .sortBy {
            case Left(l) => (-l.y, l.x)
            case Right(i) => (-i.uy, i.ux)
          }
      var group = Vector.empty[TLine]
      def flush(): Unit = if (group.nonEmpty) {
        val g = group
        group = Vector.empty
        val size = g.head.size
        val text = g.map(_.text).mkString(" ")
        if (g.head.link.nonEmpty) out += OrderedBlock.flow(Kinds.Hyperlink, text, g.head.link)
        else if (g.forall(_.text.startsWith("- ")))
          out += OrderedBlock.flow(Kinds.ListK, g.map(_.text.stripPrefix("- ")).mkString("\n"))
        else if (size >= 20) out += OrderedBlock.flow(Kinds.Title, text, level = 1)
        else if (size >= 15) out += OrderedBlock.flow(Kinds.Title, text, level = 2)
        else if (size <= 9.5) out += OrderedBlock.flow(Kinds.Caption, text)
        else out += OrderedBlock.flow(Kinds.Text, text)
      }
      all.foreach {
        case Left(l) =>
          val sameBlock = group.nonEmpty &&
            math.abs(group.last.size - l.size) < 0.01 &&
            group.last.font == l.font &&
            (group.last.y - l.y) <= LeadingPt * 1.3 &&
            // a list run and a paragraph run at the same size are distinct
            // blocks: bulletness must not change mid-group
            group.last.text.startsWith("- ") == l.text.startsWith("- ") &&
            // hyperlink lines are their own blocks (anchor + target)
            group.last.link == l.link
          if (!sameBlock) flush()
          group = group :+ l
        case Right(img) =>
          flush()
          out += OrderedBlock.flow(Kinds.Figure, "", img.ref)
      }
      flush()
    }
    out.result()
  }

  // ---- public API ---------------------------------------------------------

  /** Byte offset of `%PDF-` within the first 1024 bytes, or -1. The
    * reference prefix-sniffs (PDF_SIG_BYTES, guess_suffix_or_lang.py:12);
    * the 1 KiB window additionally tolerates crawl-grade leading junk, as
    * pdfium itself does — [[graft.io.Sniff]] uses a non-zero offset to
    * decide the parse-failure fallback route. */
  def sigOffset(bytes: Array[Byte]): Int = {
    val sig = "%PDF-".getBytes("ISO-8859-1")
    val limit = math.min(bytes.length - sig.length, 1024)
    var i = 0
    while (i <= limit) {
      var j = 0
      while (j < sig.length && bytes(i + j) == sig(j)) j += 1
      if (j == sig.length) return i
      i += 1
    }
    -1
  }

  def convert(docId: String, bytes: Array[Byte]): DocResult = {
    val pdf = new Pdf(bytes)
    val blocks = pdf.pages().flatMap { page =>
      // per-PAGE isolation: one broken page (exotic filter garbage, a
      // torn content stream) degrades to zero blocks for that page while
      // the rest of the document extracts — the crawl contract
      try {
        val rotate = page.m.get("Rotate").map(pdf.numOf(_).toInt).getOrElse(0)
        val elems = run(pdf.contentOf(page), pdf.xobjectsOf(page),
          pdf.fontsOf(page), rotate)
        val links = pdf.linksOf(page)
        if (links.nonEmpty) {
          val rm = Mat.rotateCw(rotate)
          elems.foreach {
            case f: Frag =>
              // bind on the baseline start point in PAGE space (annot
              // rects live there; undo only the /Rotate normalization)
              links.find { case (x0, y0, x1, y1, _) =>
                val (px, py) = (f.devX, f.devY) // device == page ∘ rotate
                val (bx, by) = rm(x0, y0); val (cx, cy) = rm(x1, y1)
                val (lx0, ly0) = (math.min(bx, cx), math.min(by, cy))
                val (lx1, ly1) = (math.max(bx, cx), math.max(by, cy))
                px >= lx0 - 2 && px <= lx1 + 2 && py >= ly0 - 2 && py <= ly1 + 2
              }.foreach { case (_, _, _, _, target) => f.link = target }
            case _ => ()
          }
        }
        toBlocks(elems)
      } catch { case scala.util.control.NonFatal(_) => Vector.empty }
    }
    graft.pipeline.Assemble.result(docId, blocks)
  }
}

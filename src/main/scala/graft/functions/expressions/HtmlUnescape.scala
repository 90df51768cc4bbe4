package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** HTML character-reference decoding, matching Python's `html.unescape`
  * (reference: producers/steam_utils.py:38-42 cleans every scraped review
  * with `html.unescape(re.sub('<.*?>', '', raw)).strip()`) for:
  *
  *  - numeric references, decimal and hex, semicolon optional
  *    (`&#65;` `&#65` `&#x41;`), including the HTML5 error-recovery rules
  *    Python implements: C1 / NUL codepoints remapped through the
  *    windows-1252 table, surrogates and out-of-range → U+FFFD;
  *  - the complete HTML5 named set (all 2231 names of CPython's
  *    `html.entities.html5`, loaded from a bundled copy of that public
  *    table — `graft/html5_entities.tsv`), semicolon form;
  *  - the HTML5 "legacy" no-semicolon forms (`&amp` `&copy` …) with
  *    Python's longest-known-prefix rule (`&notin` → `¬in`).
  *
  * Single pass, left to right — `&amp;lt;` decodes to `&lt;`, not `<` —
  * so a SQL `replace()` chain that substitutes `&amp;` LAST reproduces it.
  */
object HtmlEntities {

  /** All HTML5 named entities keyed WITHOUT the trailing semicolon
    * (values from the bundled copy of CPython's `html.entities.html5`
    * table); [[Legacy]] lists the names that also match with no
    * semicolon. Loaded once at class init — static data, not a per-row
    * cost.
    */
  val (named, legacy): (Map[String, String], Set[String]) = {
    val in = getClass.getClassLoader.getResourceAsStream("graft/html5_entities.tsv")
    require(in != null, "missing resource graft/html5_entities.tsv")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      val entries = src.getLines().map { line =>
        val Array(name, cps) = line.split('\t')
        val value = cps.split(' ')
          .map(h => new String(Character.toChars(Integer.parseInt(h, 16))))
          .mkString
        (name, value)
      }.toVector
      val withSemi = entries.collect {
        case (n, v) if n.endsWith(";") => (n.dropRight(1), v)
      }.toMap
      val noSemi = entries.collect { case (n, _) if !n.endsWith(";") => n }.toSet
      (withSemi, noSemi)
    } finally src.close()
  }

  /** Named entities, semicolon form (full HTML5 table). */
  val Named: Map[String, String] = named

  /** Names that also match WITHOUT a trailing semicolon (the HTML5
    * legacy set; Python's html5 table lists them sans `;`).
    */
  val Legacy: Set[String] = legacy

  /** Windows-1252 remap for numeric refs in the C1/NUL range — Python's
    * `html._invalid_charrefs` (HTML5 error recovery).
    */
  private val Cp1252: Map[Int, String] = Map(
    0x00 -> "�", 0x0d -> "\r", 0x80 -> "€", 0x81 -> "",
    0x82 -> "‚", 0x83 -> "ƒ", 0x84 -> "„", 0x85 -> "…",
    0x86 -> "†", 0x87 -> "‡", 0x88 -> "ˆ", 0x89 -> "‰",
    0x8a -> "Š", 0x8b -> "‹", 0x8c -> "Œ", 0x8d -> "",
    0x8e -> "Ž", 0x8f -> "", 0x90 -> "", 0x91 -> "‘",
    0x92 -> "’", 0x93 -> "“", 0x94 -> "”", 0x95 -> "•",
    0x96 -> "–", 0x97 -> "—", 0x98 -> "˜", 0x99 -> "™",
    0x9a -> "š", 0x9b -> "›", 0x9c -> "œ", 0x9d -> "",
    0x9e -> "ž", 0x9f -> "Ÿ")

  /** Python's `html._invalid_codepoints`: C0 controls (minus TAB/LF/FF/CR,
    * which are valid — 0x0B vertical tab IS invalid), DEL–C1, the
    * U+FDD0–FDEF noncharacter block, and the two trailing noncharacters
    * of every plane (U+xFFFE / U+xFFFF). The C1 range 0x80–0x9F is fully
    * shadowed by the [[Cp1252]] remap checked first, so here it only
    * catches 0x7F. */
  private def isInvalidCodepoint(cp: Int): Boolean =
    (cp >= 0x01 && cp <= 0x08) ||
      cp == 0x0b ||
      (cp >= 0x0e && cp <= 0x1f) ||
      (cp >= 0x7f && cp <= 0x9f) ||
      (cp >= 0xfdd0 && cp <= 0xfdef) ||
      (cp & 0xfffe) == 0xfffe

  private def decodeCodepoint(cp: Long): String =
    if (cp >= 0 && cp <= 0x9f && Cp1252.contains(cp.toInt)) Cp1252(cp.toInt)
    else if (cp >= 0xd800 && cp <= 0xdfff) "�"
    else if (cp > 0x10ffff) "�"
    else if (isInvalidCodepoint(cp.toInt)) ""
    else new String(Character.toChars(cp.toInt))

  /** Single left-to-right pass, Python `html.unescape` semantics. */
  def unescape(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c != '&') { out.append(c); i += 1 }
      else {
        val rep = tryRef(s, i)
        if (rep == null) { out.append('&'); i += 1 }
        else { out.append(rep._1); i = rep._2 }
      }
    }
    out.toString
  }

  /** Attempt to decode a reference starting at `s(at) == '&'`.
    * Returns (replacement, nextIndex) or null if not a known reference.
    */
  private def tryRef(s: String, at: Int): (String, Int) = {
    val n = s.length
    var i = at + 1
    if (i >= n) return null
    if (s.charAt(i) == '#') {
      i += 1
      val hex = i < n && (s.charAt(i) == 'x' || s.charAt(i) == 'X')
      if (hex) i += 1
      val digStart = i
      var cp = 0L
      while (i < n && cp <= 0x110000 && isDigit(s.charAt(i), hex)) {
        cp = if (hex) cp * 16 + hexVal(s.charAt(i)) else cp * 10 + (s.charAt(i) - '0')
        i += 1
      }
      // consume remaining digits past the overflow clamp
      while (i < n && isDigit(s.charAt(i), hex)) i += 1
      if (i == digStart) return null
      if (i < n && s.charAt(i) == ';') i += 1
      Tuple2(decodeCodepoint(cp), i)
    } else {
      // named: up to 32 chars of [^\t\n\f <&#;], Python's _charref class
      val nameStart = i
      var j = i
      while (j < n && j - nameStart < 32 && isNameChar(s.charAt(j))) j += 1
      if (j == nameStart) return null
      if (j < n && s.charAt(j) == ';') {
        val name = s.substring(nameStart, j)
        Named.get(name) match {
          case Some(v) => return Tuple2(v, j + 1)
          case None    => // fall through to prefix matching of the body
        }
      }
      // no (known) semicolon form: longest known legacy prefix
      var k = j
      while (k > nameStart) {
        val cand = s.substring(nameStart, k)
        if (Legacy.contains(cand)) return Tuple2(Named(cand), k)
        k -= 1
      }
      null
    }
  }

  private def isDigit(c: Char, hex: Boolean): Boolean =
    if (hex) (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    else c >= '0' && c <= '9'

  private def hexVal(c: Char): Int =
    if (c <= '9') c - '0' else (c | 0x20) - 'a' + 10

  private def isNameChar(c: Char): Boolean =
    c != '\t' && c != '\n' && c != '\f' && c != ' ' && c != '&' &&
      c != '#' && c != ';' && c != '<'
}

/** Catalyst expression wrapping [[HtmlEntities.unescape]]. Stays inside
  * whole-stage codegen (the generated code calls the shared decoder the
  * same way built-in string expressions call their static helpers).
  */
case class HtmlUnescape(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  /** Entry point shared by interpreted eval and generated code. */
  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    val out = HtmlEntities.unescape(str)
    if (out eq str) s else UTF8String.fromString(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("htmlUnescapeExpr", this)
    defineCodeGen(ctx, ev, c => s"$expr.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_html_unescape"
}

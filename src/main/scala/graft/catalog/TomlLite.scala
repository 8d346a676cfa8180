package graft.catalog

import scala.collection.mutable

/** Minimal TOML reader covering the subset the reference's project data
  * files use (jobs/webcompat-kb/webcompat_kb/projectdata.py:455-562 reads
  * them with Python's `tomllib`): top-level and dotted `[section]`
  * headers, `key = value` pairs with string / integer / boolean / array
  * values (arrays may span lines, with trailing commas), and `#`
  * comments. No date/inline-table/multi-line-string support — the
  * corpus doesn't use them.
  *
  * Parsed shape: an ordered list of (sectionPath, key -> value) so
  * callers can preserve declaration order (the reference relies on field
  * order for `host_min_ranks`, see data/metrics/ranks.toml:1).
  */
object TomlLite {

  sealed trait Value
  final case class TStr(v: String) extends Value
  final case class TInt(v: Long) extends Value
  final case class TBool(v: Boolean) extends Value
  final case class TArr(v: Seq[Value]) extends Value

  final case class Section(path: Seq[String], entries: mutable.LinkedHashMap[String, Value])

  final case class Doc(root: mutable.LinkedHashMap[String, Value], sections: Seq[Section]) {
    def section(path: Seq[String]): Option[Section] = sections.find(_.path == path)
    def str(sec: Section, key: String): Option[String] =
      sec.entries.get(key).collect { case TStr(s) => s }
    def int(sec: Section, key: String): Option[Long] =
      sec.entries.get(key).collect { case TInt(i) => i }
    def strArr(sec: Section, key: String): Option[Seq[String]] =
      sec.entries.get(key).collect { case TArr(vs) => vs.collect { case TStr(s) => s } }
  }

  def parse(text: String): Doc = {
    val root = mutable.LinkedHashMap[String, Value]()
    val sections = mutable.ArrayBuffer[Section]()
    var current: Option[Section] = None
    for (rawLine <- logicalLines(text)) {
      val line = stripComment(rawLine).trim
      if (line.nonEmpty) {
        if (line.startsWith("[")) {
          require(line.endsWith("]"), s"Bad TOML section line: $rawLine")
          val path = line.substring(1, line.length - 1).split('.').toSeq.map(unquoteKey)
          val sec = Section(path, mutable.LinkedHashMap())
          sections += sec
          current = Some(sec)
        } else {
          val eq = indexOfTopLevelEq(line)
          require(eq > 0, s"Bad TOML line: $rawLine")
          val key = unquoteKey(line.substring(0, eq).trim)
          val value = parseValue(line.substring(eq + 1).trim)
          current match {
            case Some(sec) => sec.entries(key) = value
            case None => root(key) = value
          }
        }
      }
    }
    Doc(root, sections.toSeq)
  }

  /** Join physical lines whose `[` array brackets haven't balanced yet
    * (TOML multi-line arrays, e.g. the corpus's `etl = [` blocks). */
  private def logicalLines(text: String): Iterator[String] = new Iterator[String] {
    private val lines = text.linesIterator
    def hasNext: Boolean = lines.hasNext
    def next(): String = {
      var acc = lines.next()
      while (bracketDepth(acc) > 0 && lines.hasNext) acc = acc + " " + lines.next()
      acc
    }
    private def bracketDepth(s: String): Int = {
      val stripped = stripComment(s)
      var depth = 0; var inStr = false; var q = ' '
      // a `[section]` header line is not an array opener
      if (stripped.trim.startsWith("[")) return 0
      for (c <- stripped) {
        if (inStr) { if (c == q) inStr = false }
        else if (c == '"' || c == '\'') { inStr = true; q = c }
        else if (c == '[') depth += 1
        else if (c == ']') depth -= 1
      }
      depth
    }
  }

  private def unquoteKey(k: String): String =
    if (k.length >= 2 && (k.head == '"' || k.head == '\'') && k.last == k.head)
      k.substring(1, k.length - 1)
    else k

  /** `=` outside of quotes (values may contain `=` inside strings). */
  private def indexOfTopLevelEq(line: String): Int = {
    var inStr = false
    var q = ' '
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inStr) { if (c == q) inStr = false }
      else if (c == '"' || c == '\'') { inStr = true; q = c }
      else if (c == '=') return i
      i += 1
    }
    -1
  }

  private def parseValue(raw: String): Value = {
    val s = raw.trim
    if (s.startsWith("[")) {
      require(s.endsWith("]"), s"Unterminated TOML array: $raw")
      TArr(splitArray(s.substring(1, s.length - 1)).map(parseValue))
    } else if (s.startsWith("\"") || s.startsWith("'")) {
      TStr(unescape(s.substring(1, s.length - 1), raw = s.head == '\''))
    } else if (s == "true") TBool(true)
    else if (s == "false") TBool(false)
    else TInt(java.lang.Long.parseLong(s))
  }

  private def splitArray(inner: String): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var inStr = false
    var q = ' '
    for (c <- inner) {
      if (inStr) { cur += c; if (c == q) inStr = false }
      else if (c == '"' || c == '\'') { cur += c; inStr = true; q = c }
      else if (c == ',') { if (cur.toString.trim.nonEmpty) out += cur.toString.trim; cur.clear() }
      else cur += c
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.toSeq
  }

  private def unescape(s: String, raw: Boolean): String =
    if (raw) s
    else s.replace("\\\"", "\"").replace("\\n", "\n").replace("\\t", "\t").replace("\\\\", "\\")

  private def stripComment(line: String): String = {
    var inStr = false
    var q = ' '
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inStr) { if (c == q) inStr = false }
      else if (c == '"' || c == '\'') { inStr = true; q = c }
      else if (c == '#') return line.substring(0, i)
      i += 1
    }
    line
  }
}

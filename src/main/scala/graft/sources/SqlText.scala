package graft.sources

/** Where the string literals, comments and brackets of a SQL or Jinja text
  * are, found in one pass. Every quote-aware step of [[OhdsiSql]] and
  * [[JinjaLite]] (statement and list splitting, paren matching, keyword
  * search, comment stripping, rewriting the code between literals) reads
  * this one classification, so no two steps can disagree about where a
  * literal ends, and no rewrite reaches inside one.
  *
  * The quote rule is the text's dialect ([[SqlText.TSql]] or
  * [[SqlText.GoogleSql]]). In both, `--` line comments and nested block
  * comments outside literals are comments: an apostrophe in a comment
  * opens no literal. Depth counts `(` and `[` against `)` and `]` in code.
  */
final class SqlText private (text: String, kind: Array[Byte], depthAt: Array[Int],
    comments: Seq[(Int, Int, Boolean)], val unterminatedComment: Boolean) {
  import SqlText._

  private def length: Int = text.length
  /** Whether character `i` is code: outside literals and comments. */
  def isCode(i: Int): Boolean = kind(i) == Code
  private def top(i: Int) = kind(i) == Code && depthAt(i) == 0

  /** The pieces between the characters at `cuts` (increasing), which are dropped. */
  def cutAt(cuts: Seq[Int]): Seq[String] =
    (-1 +: cuts).zip(cuts :+ length).map { case (a, b) => text.substring(a + 1, b) }

  /** Split on `sep` in code at depth 0. */
  def split(sep: Char): Seq[String] =
    cutAt(text.indices.filter(i => text.charAt(i) == sep && top(i)))

  /** The maximal runs of literal and non-literal text, in order, with their kind. */
  private lazy val runs: Seq[(String, Boolean)] = {
    val out = Seq.newBuilder[(String, Boolean)]
    var a = 0
    for (b <- 1 to length if b == length || (kind(b) == Lit) != (kind(a) == Lit)) {
      out += ((text.substring(a, b), kind(a) == Lit)); a = b
    }
    out.result()
  }

  /** Apply `f` to each run outside literals (comments included); literals stay verbatim. */
  def mapCode(f: String => String): String =
    runs.map { case (run, lit) => if (lit) run else f(run) }.mkString

  private lazy val literals: IndexedSeq[String] = runs.collect { case (run, true) => run }.toIndexedSeq

  /** The text with each literal's content replaced by a token naming it. The
    * quotes stay, so a masked literal still reads as `'…'` to a rewrite, but
    * no rewrite can reach what it holds; [[unmask]] puts the literals back
    * wherever the rewrites moved them.
    */
  lazy val masked: String = {
    var k = -1
    runs.map { case (run, lit) =>
      if (!lit) run
      else { k += 1; s"${run.head}${k.toString.map(d => (TokenBase + d - '0').toChar)}${run.head}" }
    }.mkString
  }
  def unmask(s: String): String =
    MaskedLit.replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
      literals(m.group(1).map(c => (c - TokenBase + '0').toChar).toInt)))

  /** The index of the bracket closing the one at `open`, or -1. */
  def close(open: Int): Int =
    (open + 1 until length).find(j => isCode(j) && depthAt(j) == depthAt(open) + 1 &&
      (text.charAt(j) == ')' || text.charAt(j) == ']')).getOrElse(-1)

  /** The first `(` in code at or after `from` and its closing paren: `open`
    * is `length` when no `(` follows, the close -1 when it never closes.
    */
  def parenSpan(from: Int): (Int, Int) = {
    val open = (from until length).find(i => isCode(i) && text.charAt(i) == '(').getOrElse(length)
    (open, if (open < length) close(open) else -1)
  }

  /** The end of word `w` (any case) when it starts in code at `i` on word
    * boundaries, else -1.
    */
  def wordAt(i: Int, w: String): Int = {
    def boundary(j: Int) = j < 0 || j >= length ||
      !Character.isLetterOrDigit(text.charAt(j)) && text.charAt(j) != '_'
    if (i < length && isCode(i) && text.regionMatches(true, i, w, 0, w.length) &&
      boundary(i - 1) && boundary(i + w.length)) i + w.length
    else -1
  }

  /** Every `(start, end)` span of `phrase` in code at depth 0, its words
    * separated by any whitespace, newlines included.
    */
  def keywords(phrase: String): Seq[(Int, Int)] = {
    val words = phrase.split(" ")
    text.indices.filter(top).flatMap { i =>
      val end = words.tail.foldLeft(wordAt(i, words.head)) { (at, w) =>
        if (at < 0) at
        else wordAt(text.indexWhere(!_.isWhitespace, at) match { case -1 => length; case j => j }, w)
      }
      if (end >= 0) Some((i, end)) else None
    }
  }

  /** The text without comments: a line comment up to its newline, a block
    * comment replaced by one space so it cannot fuse two tokens.
    */
  def withoutComments: String = {
    val out = new StringBuilder
    var at = 0
    comments.foreach { case (a, b, block) =>
      out ++= text.substring(at, a)
      if (block) out += ' '
      at = b
    }
    out ++= text.substring(at)
    out.result()
  }
}

object SqlText {
  /** A dialect's string-literal rule. */
  sealed trait Quotes
  /** T-SQL: `'` only; a doubled `''` inside a literal is one quote. */
  case object TSql extends Quotes
  /** GoogleSQL and Jinja: `'` and `"`, each closed only by its own kind; a
    * backslash escapes the next character, a doubled own quote is one quote.
    */
  case object GoogleSql extends Quotes

  private val Code: Byte = 0
  private val Lit: Byte = 1
  private val Comment: Byte = 2
  /** Masked-literal digits: private-use characters, never `\w` or a quote. */
  private val TokenBase = 0xE000
  private val MaskedLit = "['\"]([\\uE000-\\uE009]+)['\"]".r

  def apply(text: String, quotes: Quotes): SqlText = {
    val n = text.length
    val kind = new Array[Byte](n)
    val depth = new Array[Int](n)
    val comments = Seq.newBuilder[(Int, Int, Boolean)]
    var unterminated = false
    var d = 0
    var q: Char = 0
    var i = 0
    def mark(to: Int, k: Byte): Unit = while (i < to) { kind(i) = k; depth(i) = d; i += 1 }
    def at(j: Int, s: String) = text.startsWith(s, j)
    while (i < n) {
      val ch = text.charAt(i)
      if (q != 0) {
        if (ch == q && i + 1 < n && text.charAt(i + 1) == q ||
            quotes == GoogleSql && ch == '\\' && i + 1 < n) mark(i + 2, Lit)
        else { if (ch == q) q = 0; mark(i + 1, Lit) }
      } else if (at(i, "--")) {
        val end = text.indexOf('\n', i) match { case -1 => n; case j => j }
        comments += ((i, end, false)); mark(end, Comment)
      } else if (at(i, "/*")) {
        var j = i + 2
        var nest = 1
        while (j < n && nest > 0) {
          if (at(j, "/*")) { nest += 1; j += 2 }
          else if (at(j, "*/")) { nest -= 1; j += 2 }
          else j += 1
        }
        unterminated ||= nest > 0
        comments += ((i, j, true)); mark(j, Comment)
      } else if (ch == '\'' || quotes == GoogleSql && ch == '"') {
        q = ch; mark(i + 1, Lit)
      } else {
        mark(i + 1, Code)
        if (ch == '(' || ch == '[') d += 1
        else if (ch == ')' || ch == ']') d -= 1
      }
    }
    new SqlText(text, kind, depth, comments.result(), unterminated)
  }
}

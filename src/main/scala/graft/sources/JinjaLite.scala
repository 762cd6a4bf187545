package graft.sources

/** A minimal Jinja2-subset renderer for user `.sql.jinja` ETL queries.
  *
  * The reference renders user SQL through a full Jinja2 environment
  * (`/root/reference/src/riab/etl/bigquery/etl.py:325-345`), and its own
  * templates use variables, `{% if %}`/`{% else %}` and `{% for %}` blocks
  * (the constructs throughout `src/riab/etl/&lt;dialect&gt;/templates/` `.sql.jinja` files).
  * This renderer implements exactly that subset with Jinja2's published
  * semantics — and FAILS LOUDLY on anything else. The round-6 advisory
  * flagged the previous behavior (unknown `{% ... %}` passed through to
  * `spark.sql` unrendered) as a silent failure mode; now every
  * unsupported construct raises "unsupported Jinja construct ..." naming
  * the offending tag.
  *
  * Supported:
  *  - `{{ var }}` substitution (whitespace-tolerant)
  *  - `{# comment #}` (stripped)
  *  - whitespace control (`{%- ... -%}` / `{{- ... -}}`), trimming all
  *    adjacent whitespace like Jinja2's trim markers
  *  - `{% if cond %} .. {% elif cond %} .. {% else %} .. {% endif %}`
  *    where cond is `[not] operand [==|!= operand]` and an operand is a
  *    variable name, `loop.*` attribute, or a quoted literal; Jinja
  *    truthiness = defined and non-empty
  *  - `{% for x in xs %} .. {% endfor %}` over a caller-supplied list
  *    variable; the loop variable shadows scalars inside the body, and
  *    `loop.first` / `loop.last` / `loop.index` / `loop.index0` /
  *    `loop.length` are bound inside the body (the reference's own
  *    templates use `{%- if not loop.first -%},{%- endif %}` as the
  *    comma-separator idiom)
  *  - `{% set x = expr %}` (block-scoped) and `{% set ns = namespace(a=0) %}`
  *    / `{% set ns.a = ns.a + 1 %}` mutable namespaces (the pk-swap
  *    template's loop counter idiom, r15); expressions cover literals,
  *    variables, `ns.attr`, record attrs/indexing, `dict[keyExpr]`,
  *    `list[idxExpr]`, `x.lower()` and `+` addition
  *  - full boolean conditions: `or`/`and`/`not` with parens,
  *    `x [not] in list|dict|["lit", ...]`, `x.endswith("lit")`,
  *    `xs.keys()|length > n`, ==/!= over any readable operand
  *  - dict-typed variables (keys for bare iteration/membership,
  *    `.values()`, `.items()` pair loops) and record-list variables
  *    (`column.cdmFieldName` attribute access) — the full surface the
  *    reference's own template tree uses (r15: every sql_server template
  *    renders through this engine, certified by TemplateCoverageSpec)
  *  - nesting of the above
  *
  * Unsupported (clear error): filters beyond the `|length` comparison
  * (`{{ x | upper }}`), `{% include %}`, `{% macro %}`, undefined
  * variables (Jinja's silent-empty default hides typos in SQL, so
  * undefined names are errors here).
  */
object JinjaLite {

  /** Render `template` with scalar / list / dict / record-list bindings.
    * `dicts` carries ordered key->value pairs (Jinja dict semantics:
    * membership and bare iteration see KEYS, `.values()` the values,
    * `.items()` the pairs); `records` carries lists of attribute maps
    * (the sample queries' `column.cdmFieldName` row shape).
    */
  def render(
      template: String,
      scalars: Map[String, String],
      lists: Map[String, Seq[String]] = Map.empty,
      dicts: Map[String, Seq[(String, String)]] = Map.empty,
      records: Map[String, Seq[Map[String, String]]] = Map.empty): String = {
    val (nodes, rest) = parseNodes(tokenize(template), inBlock = false)
    rest match {
      case Stmt(s) :: _ => sys.error(s"'{% $s %}' without an opening block")
      case _ =>
    }
    val sb = new StringBuilder
    eval(nodes, Ctx(scalars, lists, dicts, records, Map.empty,
      scala.collection.mutable.Map.empty), sb)
    sb.result()
  }

  // ---- tokens ------------------------------------------------------------

  private sealed trait Tok
  private final case class Text(s: String) extends Tok
  private final case class Expr(s: String) extends Tok // {{ ... }}
  private final case class Stmt(s: String) extends Tok // {% ... %}

  private val TagRe = raw"(?s)\{\{(.*?)\}\}|\{%(.*?)%\}|\{#(.*?)#\}".r

  /** Jinja2 whitespace control: `{%-` eats whitespace before the tag,
    * `-%}` after it (same for expression and comment delimiters).
    */
  private def applyTrimMarkers(t: String): String =
    t.replaceAll(raw"(?s)\s*\{([{%#])-", "{$1")
      .replaceAll(raw"(?s)-([}%#])\}\s*", "$1}")

  private def tokenize(raw: String): List[Tok] = {
    val t = applyTrimMarkers(raw)
    val out = List.newBuilder[Tok]
    var last = 0
    for (m <- TagRe.findAllMatchIn(t)) {
      if (m.start > last) out += Text(t.substring(last, m.start))
      if (m.group(1) != null) out += Expr(m.group(1).trim)
      else if (m.group(2) != null) out += Stmt(m.group(2).trim)
      // comments drop
      last = m.end
    }
    if (last < t.length) out += Text(t.substring(last))
    // a stray half-delimiter means the user wrote Jinja we failed to lex
    val rendered = out.result()
    rendered.foreach {
      case Text(s) =>
        require(!s.contains("{%") && !s.contains("{{") && !s.contains("{#"),
          s"malformed Jinja delimiter near: ${s.slice(s.indexOf('{'), s.indexOf('{') + 40)}")
      case _ =>
    }
    rendered
  }

  // ---- AST ----------------------------------------------------------------

  private sealed trait Node
  private final case class Lit(s: String) extends Node
  private final case class Var(expr: String) extends Node
  private final case class If(branches: Seq[(BExpr, Seq[Node])], otherwise: Seq[Node]) extends Node
  private final case class For(v: String, list: String, mode: String, body: Seq[Node]) extends Node
  /** `{% for (k, v) in d.items() %}` — dict pair iteration. */
  private final case class ForPair(k: String, v: String, dict: String, body: Seq[Node]) extends Node
  /** `{% set name = expr %}` — scoped scalar binding (does not leak out
    * of the enclosing block, Jinja2 semantics); when `expr` is a
    * `namespace(attr=v)` call the binding is a MUTABLE namespace object
    * (the Jinja2 idiom for state that must survive loop iterations — the
    * pk-swap template's `ns.ci_counter`, r15).
    */
  private final case class SetVar(name: String, expr: String) extends Node
  /** `{% set ns.attr = expr %}` — namespace attribute mutation. */
  private final case class SetAttr(ns: String, attr: String, expr: String) extends Node

  /** `op` carries (== / != , rhs) comparisons; `inList` a list-membership
    * test `lhs in <list>` (the reference's duplicate-rows template guards
    * columns with `not column in events.values()` — the subset treats a
    * list-valued variable's `.values()` as the list itself; callers with
    * dict-typed template vars supply the VALUES as the list, r15).
    */
  private final case class Cond(negated: Boolean, lhs: String,
      op: Option[(String, String)], inList: Option[(String, String)] = None)

  private val Ident = raw"[A-Za-z_][A-Za-z0-9_]*"
  /** Jinja expression text, scanned once for its literals and brackets. */
  private def jinja(s: String) = SqlText(s, SqlText.GoogleSql)
  // a variable reference in {{ .. }} / conditions: plain name or loop
  // attr. The loop.* alternative comes FIRST — in a prefix match the
  // bare-Ident alternative would otherwise stop at 'loop' and leave
  // '.first' as trailing input (the r15 CondParser regression).
  private val VarRef = raw"(?:loop\.(?:first|last|index0?|length)|$Ident)"

  private def isTerminator(s: String): Boolean =
    s == "else" || s == "endif" || s == "endfor" || s.startsWith("elif ")

  /** Parse until end-of-input (top level) or an `elif`/`else`/`endif`/
    * `endfor` terminator (inside a block); returns nodes + remaining tokens
    * STARTING WITH the terminator `Stmt`.
    */
  private def parseNodes(toks: List[Tok], inBlock: Boolean): (Seq[Node], List[Tok]) = {
    val nodes = Seq.newBuilder[Node]
    var rest = toks
    while (rest.nonEmpty) {
      rest match {
        case Text(s) :: tl => nodes += Lit(s); rest = tl
        case Expr(e) :: tl =>
          // a quoted literal expression is the published templates' comma
          // separator idiom (`{%- if not loop.first -%}{{', '}}{%- endif %}`)
          if (e.matches(raw"'[^']*'|\x22[^\x22]*\x22"))
            nodes += Lit(e.substring(1, e.length - 1))
          else {
            // filters stay unsupported — fail at parse time with the
            // construct named; other expressions defer to evalExpr
            require(!e.contains("|"),
              s"unsupported Jinja construct '{{ $e }}' — filters are not supported")
            nodes += Var(e)
          }
          rest = tl
        case Stmt(s) :: tl if s.startsWith("set ") =>
          val assign = s.drop(4).trim
          val attrSet = raw"(?s)^($Ident)\.($Ident)\s*=\s*(.+)$$".r
          val varSet = raw"(?s)^($Ident)\s*=\s*(.+)$$".r
          assign match {
            case attrSet(n, a, e) => nodes += SetAttr(n, a, e.trim)
            case varSet(n, e) => nodes += SetVar(n, e.trim)
            case other => sys.error(s"unsupported Jinja set '$other' — " +
              "expected 'name = expr' or 'ns.attr = expr'")
          }
          rest = tl
        case Stmt(s) :: tl if s.startsWith("if ") =>
          val (n, r) = parseIf(cond(s.drop(3)), tl)
          nodes += n; rest = r
        case Stmt(s) :: tl if s.matches(s"for\\s+$Ident\\s+in\\s+$Ident(?:\\.(?:values|keys)\\(\\))?") =>
          val parts = s.split("\\s+")
          val mode =
            if (parts(3).endsWith(".values()")) "values"
            else if (parts(3).endsWith(".keys()")) "keys"
            else "bare"
          val listName = parts(3).stripSuffix(".values()").stripSuffix(".keys()")
          val (body, r) = parseNodes(tl, inBlock = true)
          r match {
            case Stmt("endfor") :: r2 =>
              nodes += For(parts(1), listName, mode, body); rest = r2
            case other => sys.error(
              s"'{% for %}' closed by '${termName(other)}', expected '{% endfor %}'")
          }
        case Stmt(s) :: tl if s.matches(
            s"for\\s*\\(\\s*$Ident\\s*,\\s*$Ident\\s*\\)\\s+in\\s+$Ident\\.items\\(\\)") =>
          // `{% for (table, key) in event_tables.items() %}` — the
          // apply-event-columns pair iteration (r15)
          val pm = raw"for\s*\(\s*($Ident)\s*,\s*($Ident)\s*\)\s+in\s+($Ident)\.items\(\)".r
          val m = pm.findFirstMatchIn(s).get
          val (body, r) = parseNodes(tl, inBlock = true)
          r match {
            case Stmt("endfor") :: r2 =>
              nodes += ForPair(m.group(1), m.group(2), m.group(3), body); rest = r2
            case other => sys.error(
              s"'{% for %}' closed by '${termName(other)}', expected '{% endfor %}'")
          }
        case (all @ Stmt(s) :: _) if isTerminator(s) =>
          require(inBlock, s"'{% $s %}' without an opening block")
          return (nodes.result(), all)
        case Stmt(s) :: _ =>
          val tag = s.split("\\s+").headOption.getOrElse(s)
          sys.error(s"unsupported Jinja construct '{% $s %}' — this engine renders " +
            s"variables, if/elif/else and for blocks only (tag '$tag' is not supported)")
        case Nil => // exhausted
      }
    }
    (nodes.result(), Nil)
  }

  private def termName(toks: List[Tok]): String = toks match {
    case Stmt(s) :: _ => s
    case _ => "<eof>"
  }

  private def parseIf(c: BExpr, toks: List[Tok]): (Node, List[Tok]) = {
    val branches = Seq.newBuilder[(BExpr, Seq[Node])]
    var currentCond = c
    var rest = toks
    var otherwise: Seq[Node] = Nil
    var done = false
    while (!done) {
      val (body, term) = parseNodes(rest, inBlock = true)
      term match {
        case Stmt(t) :: tl if t.startsWith("elif ") =>
          branches += ((currentCond, body))
          currentCond = cond(t.drop(5))
          rest = tl
        case Stmt("else") :: tl =>
          branches += ((currentCond, body))
          val (eb, term2) = parseNodes(tl, inBlock = true)
          term2 match {
            case Stmt("endif") :: tl2 => otherwise = eb; rest = tl2; done = true
            case other => sys.error(
              s"'{% else %}' closed by '${termName(other)}', expected '{% endif %}'")
          }
        case Stmt("endif") :: tl =>
          branches += ((currentCond, body))
          rest = tl; done = true
        case other =>
          sys.error(s"'{% if %}' closed by '${termName(other)}', expected '{% endif %}'")
      }
    }
    (If(branches.result(), otherwise), rest)
  }

  /** Full boolean condition grammar (the published merge template's
    * shapes, r15): `or` / `and` / `not` with Jinja2 precedence
    * (or < and < not), parenthesized groups, and the terms —
    * truthiness, `==`/`!=`, `x in somelist[.values()|.keys()]`,
    * `x in ["lit", ...]` literal lists (lhs may be a quoted literal
    * too), `x.endswith("lit")`, and `xs.keys()|length > n` (the one
    * filter the published tree compares on).
    */
  private def cond(raw: String): BExpr = {
    val p = new CondParser(raw)
    val e = p.parseOr()
    p.skipWs()
    require(p.atEnd, s"unsupported Jinja condition '$raw' — trailing input at '${p.rest}'")
    e
  }

  private sealed trait BExpr
  private final case class BOr(a: BExpr, b: BExpr) extends BExpr
  private final case class BAnd(a: BExpr, b: BExpr) extends BExpr
  private final case class BNot(a: BExpr) extends BExpr
  private final case class BTerm(c: Cond) extends BExpr
  private final case class BEndsWith(x: String, suffix: String) extends BExpr
  private final case class BInLits(x: String, lits: Seq[String]) extends BExpr
  private final case class BLenGt(list: String, n: Int) extends BExpr

  /** Recursive-descent parser over one `{% if %}` condition. */
  private final class CondParser(s: String) {
    private val text = jinja(s)
    private var i = 0
    def atEnd: Boolean = i >= s.length
    def rest: String = s.substring(i)
    def skipWs(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def word(w: String): Boolean = {
      skipWs()
      if (s.regionMatches(false, i, w, 0, w.length) &&
          (i + w.length >= s.length || !s.charAt(i + w.length).isLetterOrDigit)) {
        i += w.length; true
      } else false
    }
    private def peekWord(w: String): Boolean = {
      val save = i
      val ok = word(w)
      i = save
      ok
    }
    // an operand: loop attr, record/namespace attr (`column.fkTableName`),
    // record/dict index (`column["isPrimaryKey"]`), plain variable, or a
    // quoted literal — longest shapes first so a prefix match never stops
    // at the bare identifier
    private val OperandRe =
      raw"(loop\.(?:first|last|index0?|length)|$Ident\.$Ident|$Ident\[[^\]]+\]|$Ident|'[^']*'|\x22[^\x22]*\x22)".r
    private def operandTok(): String = {
      skipWs()
      OperandRe.findPrefixOf(s.substring(i)) match {
        case Some(tok) => i += tok.length; tok
        case None => sys.error(
          s"unsupported Jinja condition '$s' — expected a variable or quoted literal at '${rest.take(30)}'")
      }
    }
    def parseOr(): BExpr = {
      var l = parseAnd()
      while (peekWord("or")) { word("or"); l = BOr(l, parseAnd()) }
      l
    }
    private def parseAnd(): BExpr = {
      var l = parseNot()
      while (peekWord("and")) { word("and"); l = BAnd(l, parseNot()) }
      l
    }
    private def parseNot(): BExpr =
      if (word("not")) BNot(parseNot())
      else {
        skipWs()
        if (i < s.length && s.charAt(i) == '(') {
          i += 1
          val e = parseOr()
          skipWs()
          require(i < s.length && s.charAt(i) == ')',
            s"unsupported Jinja condition '$s' — missing ')' at '${rest.take(30)}'")
          i += 1
          e
        } else parseTerm()
      }
    private def parseTerm(): BExpr = {
      // xs.keys()|length > n — the only filter comparison the tree uses
      skipWs()
      // `.keys()` is optional: the bq work-table DDL compares a plain
      // list (`cluster_fields | length > 0`)
      val lenRe = raw"($Ident)(?:\.keys\(\))?\s*\|\s*length\s*>\s*(\d+)".r
      lenRe.findPrefixMatchOf(s.substring(i)) match {
        case Some(m) => i += m.end; return BLenGt(m.group(1), m.group(2).toInt)
        case None =>
      }
      val endsRe = raw"($Ident)\.endswith\(\s*('[^']*'|\x22[^\x22]*\x22)\s*\)".r
      endsRe.findPrefixMatchOf(s.substring(i)) match {
        case Some(m) =>
          i += m.end
          val q = m.group(2)
          return BEndsWith(m.group(1), q.substring(1, q.length - 1))
        case None =>
      }
      val lhs = operandTok()
      skipWs()
      // `x not in xs` — the infix negation form (Jinja2 operator)
      val notIn = {
        val save = i
        if (word("not") && peekWord("in")) true else { i = save; false }
      }
      if (!notIn && (s.startsWith("==", i) || s.startsWith("!=", i))) {
        val op = s.substring(i, i + 2); i += 2
        BTerm(Cond(negated = false, lhs, Some((op, operandTok()))))
      } else if (notIn || peekWord("in")) {
        val wrap: BExpr => BExpr = if (notIn) BNot.apply else identity
        word("in")
        skipWs()
        if (i < s.length && s.charAt(i) == '[') {
          // literal list: in ["a", "b", ...]
          val close = text.close(i)
          require(close > i, s"unsupported Jinja condition '$s' — missing ']'")
          val lits = jinja(s.substring(i + 1, close)).split(',')
            .map(_.trim).filter(_.nonEmpty)
            .map(q => q.substring(1, q.length - 1))
          i = close + 1
          wrap(BInLits(lhs, lits))
        } else {
          val memRe = raw"($Ident)(?:\.(values|keys)\(\))?".r
          memRe.findPrefixMatchOf(s.substring(i)) match {
            case Some(m) =>
              i += m.end
              val accessor = Option(m.group(2)).getOrElse("bare")
              wrap(BTerm(Cond(negated = false, lhs, None, inList = Some((m.group(1), accessor)))))
            case None => sys.error(
              s"unsupported Jinja condition '$s' — expected a list name after 'in'")
          }
        }
      } else BTerm(Cond(negated = false, lhs, None))
    }
  }

  // ---- eval ----------------------------------------------------------------

  /** Mutable namespace objects (`{% set ns = namespace(a=0) %}`) — Jinja2's
    * escape hatch for state that must survive loop-iteration scoping.
    * Keyed by binding name; re-binding replaces the object (the pk-swap
    * template re-initializes its counter namespace before each loop).
    */
  private type NsEnv = scala.collection.mutable.Map[String, scala.collection.mutable.Map[String, String]]

  /** The evaluation context: immutable scalar/list/dict/record bindings,
    * the record-typed loop variables currently in scope, and the SHARED
    * mutable namespace env.
    */
  private final case class Ctx(
      scalars: Map[String, String],
      lists: Map[String, Seq[String]],
      dicts: Map[String, Seq[(String, String)]],
      records: Map[String, Seq[Map[String, String]]],
      recVars: Map[String, Map[String, String]],
      env: NsEnv)

  /** `namespace(a=0[, b=0, ...])` — one or more attribute initializers. */
  private val NamespaceCall = raw"(?s)^namespace\(\s*(.+?)\s*\)$$".r
  private val NsKv = raw"^($Ident)\s*=\s*(.+)$$".r

  private def lookup(name: String, ctx: Ctx): String =
    ctx.scalars.getOrElse(name, sys.error(
      s"undefined Jinja variable '$name' — provided: ${ctx.scalars.keys.toSeq.sorted.mkString(", ")}"))

  /** A condition operand: quoted literal, or any readable expression
    * (scalar/loop variable, record/namespace attribute, indexing).
    */
  private def operand(o: String, ctx: Ctx): String =
    if (o.startsWith("'") || o.startsWith("\"")) o.substring(1, o.length - 1)
    else evalExpr(o, ctx)

  /** The sequence a name denotes in membership / |length / iteration
    * position: a DICT resolves to keys (bare/keys accessor) or values;
    * a plain list resolves to itself under every accessor (the legacy
    * dict-as-values convention for list-typed callers).
    */
  private def seqOf(name: String, accessor: String, ctx: Ctx): Seq[String] =
    ctx.dicts.get(name) match {
      case Some(pairs) =>
        if (accessor == "values") pairs.map(_._2) else pairs.map(_._1)
      case None => ctx.lists.getOrElse(name, sys.error(
        s"undefined Jinja list '$name' — provided: " +
          (ctx.lists.keys ++ ctx.dicts.keys).toSeq.sorted.mkString(", ")))
    }

  private def truthy(c: Cond, ctx: Ctx): Boolean = {
    val base = (c.op, c.inList) match {
      case (Some((op, r)), _) =>
        val l = operand(c.lhs, ctx)
        val rv = operand(r, ctx)
        if (op == "==") l == rv else l != rv
      case (None, Some((listName, accessor))) =>
        seqOf(listName, accessor, ctx).contains(operand(c.lhs, ctx))
      case (None, None) =>
        // bare truthiness over ANY readable operand (Jinja: defined and
        // non-empty). A dotted/indexed reference resolves through
        // evalExpr (namespace/record attrs — the r15 ADVICE fix: the
        // scalars-only lookup silently yielded false); a plain name
        // checks scalars THEN list/dict non-emptiness, and a truly
        // undefined name raises (the engine's fail-loud contract).
        val l = c.lhs
        if (l.startsWith("'") || l.startsWith("\"")) l.length > 2
        else if (ctx.scalars.contains(l)) ctx.scalars(l).nonEmpty
        else if (l.contains(".") || l.contains("[")) evalExpr(l, ctx).nonEmpty
        else if (ctx.lists.contains(l)) ctx.lists(l).nonEmpty
        else if (ctx.dicts.contains(l)) ctx.dicts(l).nonEmpty
        else if (ctx.recVars.contains(l) || ctx.env.contains(l)) true
        else sys.error(s"undefined Jinja variable '$l' in condition — " +
          s"provided: ${(ctx.scalars.keys ++ ctx.lists.keys ++ ctx.dicts.keys).toSeq.sorted.mkString(", ")}")
    }
    if (c.negated) !base else base
  }

  private def evalB(e: BExpr, ctx: Ctx): Boolean = e match {
    case BOr(a, b) => evalB(a, ctx) || evalB(b, ctx)
    case BAnd(a, b) => evalB(a, ctx) && evalB(b, ctx)
    case BNot(a) => !evalB(a, ctx)
    case BTerm(c) => truthy(c, ctx)
    case BEndsWith(x, suffix) => operand(x, ctx).endsWith(suffix)
    case BInLits(x, lits) => lits.contains(operand(x, ctx))
    case BLenGt(l, n) => seqOf(l, "keys", ctx).size > n
  }

  /** Evaluate a Jinja expression to a string: quoted/int literals,
    * (loop-)variables, record/namespace attribute reads,
    * `list[indexExpr]` / `dict[keyExpr]` / `record["attr"]` indexing,
    * `var.lower()`, and top-level `+` integer addition. Anything else
    * fails loudly with the expression named.
    */
  private def evalExpr(e: String, ctx: Ctx): String = {
    val s = e.trim
    val plusParts = jinja(s).split('+')
    if (plusParts.length > 1)
      return plusParts.map(p => evalExpr(p, ctx).toLong).sum.toString
    val attrRef = raw"^($Ident)\.($Ident)$$".r
    val indexRef = raw"(?s)^($Ident)\[(.+)\]$$".r
    val lowerCall = raw"^($Ident)\.lower\(\)$$".r
    s match {
      case q if q.matches(raw"'[^']*'|\x22[^\x22]*\x22") => q.substring(1, q.length - 1)
      case n if n.matches(raw"-?\d+") => n
      case v if v.matches(VarRef) && ctx.scalars.contains(v) => ctx.scalars(v)
      case lowerCall(n) => lookup(n, ctx).toLowerCase
      case attrRef(n, a) if ctx.recVars.contains(n) =>
        ctx.recVars(n).getOrElse(a, sys.error(
          s"record '$n' has no attribute '$a' — attributes: ${ctx.recVars(n).keys.toSeq.sorted.mkString(", ")}"))
      case attrRef(n, a) if ctx.env.contains(n) =>
        ctx.env(n).getOrElse(a, sys.error(s"namespace '$n' has no attribute '$a'"))
      // a dotted SCALAR binding ('concept_column.cdmFieldName' supplied
      // whole) — the sample-query single-record convention
      case attrRef(_, _) if ctx.scalars.contains(s) => ctx.scalars(s)
      case indexRef(n, idx) if ctx.recVars.contains(n) =>
        val key = evalExpr(idx, ctx)
        ctx.recVars(n).getOrElse(key, sys.error(
          s"record '$n' has no attribute '$key'"))
      case indexRef(n, idx) if ctx.dicts.contains(n) =>
        val key = evalExpr(idx, ctx)
        ctx.dicts(n).collectFirst { case (k, v) if k == key => v }
          .getOrElse(sys.error(s"dict '$n' has no key '$key'"))
      case indexRef(n, idx) =>
        val xs = ctx.lists.getOrElse(n, sys.error(
          s"undefined Jinja list '$n' in index expression — provided: " +
            ctx.lists.keys.toSeq.sorted.mkString(", ")))
        val i = evalExpr(idx, ctx).toInt
        require(i >= 0 && i < xs.size, s"index $i out of range for list '$n' (size ${xs.size})")
        xs(i)
      case v if v.matches(VarRef) => lookup(v, ctx)
      case other => sys.error(s"unsupported Jinja expression '$other' — " +
        "supported: literals, variables, attrs, list/dict/record indexing, " +
        "x.lower(), '+' addition")
    }
  }

  private def loopVars(i: Int, n: Int): Map[String, String] = Map(
    // truthiness is non-empty, so ""/"true" encode loop booleans
    "loop.first" -> (if (i == 0) "true" else ""),
    "loop.last" -> (if (i == n - 1) "true" else ""),
    "loop.index" -> (i + 1).toString,
    "loop.index0" -> i.toString,
    "loop.length" -> n.toString)

  private def eval(nodes: Seq[Node], ctx0: Ctx, sb: StringBuilder): Unit = {
    // {% set %} bindings apply to the REST of this node list only (block
    // scoped, Jinja2 semantics) — thread an updatable view
    var ctx = ctx0
    nodes.foreach {
      case Lit(s) => sb.append(s)
      case Var(e) => sb.append(evalExpr(e, ctx))
      case SetVar(n, e) => e match {
        case NamespaceCall(kvs) =>
          val m = scala.collection.mutable.Map.empty[String, String]
          jinja(kvs).split(',').map(_.trim).filter(_.nonEmpty).foreach {
            case NsKv(attr, v) => m(attr) = evalExpr(v, ctx)
            case other => sys.error(
              s"unsupported namespace initializer '$other' — expected attr = expr")
          }
          ctx.env(n) = m
        case expr if expr.trim.startsWith("{") =>
          // a dict LITERAL (`{% set types = {'a': 'b', ...} %}` — the bq
          // sample-query datatype map): quoted keys and values, bound as
          // an ordered dict like a caller-supplied one
          val body = expr.trim
          require(body.endsWith("}"),
            s"unsupported Jinja dict literal '$expr' — missing closing brace")
          val QuotedPair =
            raw"""(?s)^\s*('[^']*'|\x22[^\x22]*\x22)\s*:\s*('[^']*'|\x22[^\x22]*\x22)\s*$$""".r
          val pairs = jinja(body.substring(1, body.length - 1)).split(',')
            .map(_.trim).filter(_.nonEmpty).map {
            case QuotedPair(k, v) =>
              (k.substring(1, k.length - 1), v.substring(1, v.length - 1))
            case other => sys.error(
              s"unsupported Jinja dict entry '$other' — expected 'key': 'value'")
          }
          ctx = ctx.copy(dicts = ctx.dicts + (n -> pairs))
        case expr => ctx = ctx.copy(scalars = ctx.scalars + (n -> evalExpr(expr, ctx)))
      }
      case SetAttr(n, a, e) =>
        ctx.env.getOrElse(n, sys.error(
          s"'$n' is not a namespace — bind it with {% set ... = namespace(...) %} first"))
          .update(a, evalExpr(e, ctx))
      case If(branches, otherwise) =>
        branches.find { case (c, _) => evalB(c, ctx) } match {
          case Some((_, body)) => eval(body, ctx, sb)
          case None => eval(otherwise, ctx, sb)
        }
      case For(v, name, mode, body) =>
        if (ctx.records.contains(name)) {
          require(mode == "bare",
            s"'.$mode()' iteration over record list '$name' is not supported")
          val xs = ctx.records(name)
          xs.zipWithIndex.foreach { case (rec, i) =>
            eval(body, ctx.copy(
              scalars = ctx.scalars ++ loopVars(i, xs.size),
              recVars = ctx.recVars + (v -> rec)), sb)
          }
        } else {
          val xs = seqOf(name, mode, ctx)
          xs.zipWithIndex.foreach { case (x, i) =>
            eval(body, ctx.copy(
              scalars = ctx.scalars ++ loopVars(i, xs.size) + (v -> x)), sb)
          }
        }
      case ForPair(kv, vv, name, body) =>
        val pairs = ctx.dicts.getOrElse(name, sys.error(
          s"undefined Jinja dict '$name' in .items() — provided dicts: " +
            ctx.dicts.keys.toSeq.sorted.mkString(", ")))
        pairs.zipWithIndex.foreach { case ((k, v), i) =>
          eval(body, ctx.copy(
            scalars = ctx.scalars ++ loopVars(i, pairs.size) + (kv -> k) + (vv -> v)), sb)
        }
    }
  }
}

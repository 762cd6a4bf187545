package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A Spark-native subset of the OHDSI SqlRender bridge the reference drives
  * through `SqlRender.jar` (`/root/reference/src/riab/etl/sql_render_base.py:36-81`:
  * `renderSql(sql, names, values)` then `translateSqlWithPath(rendered,
  * dialect)`) — so a user bringing their own OHDSI-dialect (SQL Server
  * flavored) analysis SQL can run it against the engine's registered views.
  *
  * Scope is the documented public SqlRender surface that OHDSI analysis
  * files actually use, re-expressed against Spark SQL:
  *
  *   - render: `{DEFAULT @p = v}` declarations, `@param` substitution
  *     (longest name first, so `@abc` never partially matches `@ab`);
  *   - translate: `SELECT TOP n` -> trailing `LIMIT n`, `COUNT_BIG` ->
  *     `COUNT`, `ISNULL` -> `coalesce`, `LEN` -> `length`, `GETDATE()` ->
  *     `current_timestamp()`, `EOMONTH` -> `last_day`, `DATEFROMPARTS` ->
  *     `make_date`, `DATEADD(day|month|year, n, d)` ->
  *     `date_add`/`add_months`, `DATEDIFF(day, a, b)` -> `datediff(b, a)`
  *     (argument order flips), `CHARINDEX(needle, hay)` ->
  *     `instr(hay, needle)`, `IIF` -> `if`, `DATEPART` ->
  *     `year/month/day`, `STDEV`/`VAR` -> `stddev_samp`/`var_samp`,
  *     `SQUARE(x)` -> `x*x`, `CONVERT(type, x)` -> `CAST(x AS type)`,
  *     `AS FLOAT` -> `AS DOUBLE` (SQL Server FLOAT is 8-byte),
  *     `WITH (NOLOCK)` dropped, `[ident]` -> backtick quoting, bare float
  *     literals -> `CAST(... AS DOUBLE)` (SqlRender target dialects type
  *     them as floats), string `+` concatenation chains -> `concat(...)`
  *     (the Achilles Heel warning idiom; chains with no string-literal
  *     term stay arithmetic), bare `AS VARCHAR` -> `AS STRING`,
  *     `#temp` -> session temp views;
  *   - execute: `;`-separated statements — `IF OBJECT_ID .. DROP TABLE`
  *     / `DROP TABLE` manage the temp views, `SELECT .. INTO #t`
  *     materializes one, and the final `SELECT` returns the frame.
  *
  * Anything outside the subset FAILS LOUDLY with the construct named
  * (the round-6 Jinja lesson: a silently-unrendered construct reaching
  * `spark.sql` produces an opaque parse error downstream).
  */
object OhdsiSql {

  private val DefaultDecl = raw"\{\s*DEFAULT\s+@(\w+)\s*=\s*([^}]*?)\s*\}".r
  private val ParamRef = raw"@(\w+)".r
  /** `{cond}?{then}` / `{cond}?{then}:{else}` — SqlRender's conditional
    * block. Bodies in the published DQD/Achilles templates are plain SQL
    * (no nested braces), which is the grammar this subset parses; a
    * leftover `{...}?` after substitution (nested-brace body, malformed
    * form) fails loudly in [[render]].
    */
  // the negative lookahead keeps a FOLLOWING conditional's condition from
  // being consumed as this block's else branch ('{c1}?{A} : {c2}?{B}')
  private val CondBlock =
    raw"(?s)\{([^{}]*)\}\s*\?\s*\{([^{}]*)\}(?:\s*:\s*\{([^{}]*)\}(?!\s*\?))?".r
  private val CondLeftover = raw"\{[^{}]*\}\s*\?".r

  /** SqlRender condition evaluation over ALREADY-SUBSTITUTED text:
    * `|`-separated alternatives of `&`-separated terms; a term is
    * `'a' == 'b'`, `'a' != 'b'`, or a bare boolean word (SqlRender's
    * `{@flag}?{...}` after @flag substitutes to true/false). Anything
    * else fails loudly with the construct named — the subset's contract.
    * Splitting is QUOTE-AWARE, so a substituted value containing `&`/`|`
    * inside its quotes ('a&b' == 'x') stays one term. Known subset
    * limitation (documented, not silently mishandled): a literal
    * `{...}?` sequence INSIDE a SQL string constant would still parse as
    * a conditional block — keep brace-question sequences out of string
    * literals fed through the bridge.
    */
  private val CmpTerm = raw"'([^']*)'\s*(==|!=)\s*'([^']*)'".r
  /** T-SQL text, scanned once for its literals, comments and brackets. */
  private def tsql(s: String) = SqlText(s, SqlText.TSql)
  private def evalCond(cond: String): Boolean =
    tsql(cond).split('|').exists(tsql(_).split('&').forall { raw =>
      raw.trim match {
        case CmpTerm(a, op, b) => if (op == "==") a == b else a != b
        case t if t.equalsIgnoreCase("true") => true
        case t if t.equalsIgnoreCase("false") => false
        case other => throw new IllegalArgumentException(
          s"unsupported SqlRender condition term '$other' in '{$cond}?{...}' — " +
            "this subset supports 'a' == 'b', 'a' != 'b', and boolean words")
      }
    })

  /** Substitute named `:param` bind placeholders OUTSIDE string literals —
    * the reference executes several templates with execute-time query
    * parameters distinct from the Jinja render variables
    * (`sql_server/etl.py:73-100` passes `{"etl_start": date}` to
    * `run_query`; `dqd/get_dqd_run.sql.jinja` binds `:id`). The caller
    * supplies each value as SQL literal TEXT (e.g. `DATE '2024-01-01'`) —
    * the bridge does no type inference, exactly like a driver's literal
    * binding. When any binds are supplied, an unbound `:name` fails
    * loudly; with NO binds the scan is skipped entirely (a colon outside
    * quotes then keeps its legacy pass-through meaning). A colon inside
    * quotes ('12:30') is content and never a bind.
    */
  private def substituteBinds(text: String, binds: Map[String, String],
      q: SqlText.Quotes): String =
    if (binds.isEmpty) text
    else SqlText(text, q).mapCode(raw":([\p{L}_][\p{L}\p{Nd}_]*)".r.replaceAllIn(_, m =>
      java.util.regex.Matcher.quoteReplacement(binds.getOrElse(m.group(1),
        throw new IllegalArgumentException(s"unbound bind parameter :${m.group(1)} — known: " +
          binds.keys.toSeq.sorted.map(":" + _).mkString(", "))))))

  /** SqlRender's render step: collect `{DEFAULT @p = v}` declarations,
    * overlay the caller's parameters, substitute every `@p` textually,
    * then evaluate `{cond}?{body}` conditional blocks against the
    * substituted values. Leftover `@p` references or condition terms
    * outside the supported grammar raise with the construct named.
    */
  def render(sql: String, params: Map[String, String] = Map.empty): String = {
    val defaults = DefaultDecl.findAllMatchIn(sql).map(m => m.group(1) -> m.group(2)).toMap
    val stripped = DefaultDecl.replaceAllIn(sql, "")
    val values = defaults ++ params
    val substituted = values.toSeq.sortBy(-_._1.length).foldLeft(stripped) {
      case (acc, (name, value)) =>
        acc.replaceAll(raw"@$name\b", java.util.regex.Matcher.quoteReplacement(value))
    }
    // conditional blocks evaluate AFTER substitution (SqlRender semantics:
    // the condition compares rendered values) — body kept or dropped whole
    val conditioned = CondBlock.replaceAllIn(substituted, m =>
      java.util.regex.Matcher.quoteReplacement(
        if (evalCond(m.group(1))) m.group(2)
        else Option(m.group(3)).getOrElse("")))
    require(CondLeftover.findFirstIn(conditioned).isEmpty,
      "unsupported SqlRender conditional (nested braces in the body?) — " +
        "this subset parses {cond}?{then} and {cond}?{then}:{else} with " +
        "brace-free parts")
    val leftover = ParamRef.findAllMatchIn(conditioned).map(_.group(1)).toSet
    require(leftover.isEmpty,
      s"unbound SqlRender parameter(s): ${leftover.toSeq.sorted.map("@" + _).mkString(", ")} — " +
        s"known: ${values.keys.toSeq.sorted.map("@" + _).mkString(", ")}")
    conditioned
  }

  private def ci(pattern: String) = ("(?i)" + pattern).r

  /** A bare float literal (decimal point and/or exponent). [[translate]]
    * matches it on literal-masked text, so no digit inside a string can.
    */
  private val FloatLit =
    raw"(?<![\w.])(\d*\.\d+(?:[eE][+-]?\d+)?|\d+[eE][+-]?\d+)(?![\w.])".r

  /** One term of a SQL Server `+` string-concatenation chain: a string
    * literal, a function call one paren level deep (string literals
    * allowed inside the call body), or a (qualified/backticked) identifier
    * or number. Alternation order matters: the call form must win over its
    * own leading identifier, or `CAST` would match bare and the chain
    * would stop at the open paren.
    */
  private val ConcatTerm =
    raw"(?:'(?:[^']|'')*'|\w+(?:\.\w+)*\s*\((?:[^()']|'(?:[^']|'')*'|\([^()]*\))*\)|`\w+`(?:\.`?\w+`?)*|\w+(?:\.\w+)*)"
  private val StrPlusChain = (s"$ConcatTerm(?:\\s*\\+\\s*$ConcatTerm)+").r

  /** The SqlTranslate step for the SQL Server constructs of the subset.
    * A `DATEADD`/`DATEDIFF` with an unsupported datepart (or nested
    * parentheses the simple rules cannot parse) raises rather than
    * passing through to an opaque Spark parse error. Every rewrite runs on
    * the literal-masked text and the literals come back at the end, so a
    * string's content is never rewritten, while rules that take a literal
    * argument (DATEADD, CHARINDEX, CONVERT, the `+` chain) still see one.
    * `quotes` says which quotes open a literal (T-SQL unless the text is
    * GoogleSQL).
    */
  def translate(sql: String, quotes: SqlText.Quotes = SqlText.TSql): String = {
    // a T-SQL DECLARE blob (the CDM DDL's dynamic constraint-drop
    // preamble) is dispatched whole by execute — its QUOTENAME chains are
    // not the string-concat grammar the rewrites below parse
    if (ci(raw"^\s*DECLARE\s+@").findFirstIn(sql).isDefined) return sql
    val text = SqlText(sql, quotes)
    var s = text.masked
    // SqlRender's rendered target dialects type bare decimal literals as
    // FLOAT (e.g. FLOAT64 on BigQuery; the reference consumes DQD's
    // `1.0*x/y` pct as a float, data_quality.py) — Spark would type the
    // same literal DECIMAL(2,1) and propagate DECIMAL(38,16) through the
    // division, a silent cross-engine semantics fork (the r9 red). Rewrite
    // every unquoted float literal to an explicit DOUBLE.
    s = FloatLit.replaceAllIn(s, "CAST($1 AS DOUBLE)")
    s = ci(raw"COUNT_BIG\s*\(").replaceAllIn(s, "COUNT(")
    s = ci(raw"\bISNULL\s*\(").replaceAllIn(s, "coalesce(")
    s = ci(raw"\bLEN\s*\(").replaceAllIn(s, "length(")
    s = ci(raw"\bGETDATE\s*\(\s*\)").replaceAllIn(s, "current_timestamp()")
    s = ci(raw"\bEOMONTH\s*\(").replaceAllIn(s, "last_day(")
    s = ci(raw"\bDATEFROMPARTS\s*\(").replaceAllIn(s, "make_date(")
    // DATEADD / DATEDIFF: simple (no nested parens in the date args for
    // DATEADD; DATEDIFF's args may be aggregate calls, matched as
    // balanced-one-level tokens)
    val arg = raw"((?:[^(),]|\((?:[^()]*)\))+)" // one arg, one paren level deep
    s = ci(raw"\bDATEADD\s*\(\s*(\w+)\s*,\s*$arg\s*,\s*$arg\s*\)").replaceAllIn(s, m => {
      val (unit, n, d) = (m.group(1).toLowerCase, m.group(2).trim, m.group(3).trim)
      java.util.regex.Matcher.quoteReplacement(unit match {
        case "day" | "dd" | "d" => s"date_add($d, $n)"
        case "week" | "wk" | "ww" => s"date_add($d, 7 * ($n))"
        case "month" | "mm" | "m" => s"add_months($d, $n)"
        case "quarter" | "qq" | "q" => s"add_months($d, 3 * ($n))"
        case "year" | "yy" | "yyyy" => s"add_months($d, 12 * ($n))"
        // sub-day units promote to TIMESTAMP, exactly as SQL Server's
        // DATEADD over datetime does (r15 widening)
        case "hour" | "hh" => s"timestampadd(HOUR, $n, $d)"
        case "minute" | "mi" | "n" => s"timestampadd(MINUTE, $n, $d)"
        case "second" | "ss" | "s" => s"timestampadd(SECOND, $n, $d)"
        case "millisecond" | "ms" => s"timestampadd(MILLISECOND, $n, $d)"
        case other => throw new IllegalArgumentException(
          s"unsupported DATEADD datepart '$other' (subset: day, week, month, " +
            "quarter, year, hour, minute, second, millisecond)")
      })
    })
    s = ci(raw"\bDATEDIFF\s*\(\s*(\w+)\s*,\s*$arg\s*,\s*$arg\s*\)").replaceAllIn(s, m => {
      val (unit, a, b) = (m.group(1).toLowerCase, m.group(2).trim, m.group(3).trim)
      // SQL Server DATEDIFF counts BOUNDARY CROSSINGS (an int), never
      // fractional elapsed units: DATEDIFF(hour, 10:59, 11:00) = 1. Each
      // mapping truncates both endpoints to the unit boundary and
      // differences the truncations (r15 — the old month mapping through
      // months_between returned fractional months, a different function)
      java.util.regex.Matcher.quoteReplacement(unit match {
        case "day" | "dd" | "d" => s"datediff($b, $a)"
        case "month" | "mm" | "m" =>
          s"((year($b) - year($a)) * 12 + (month($b) - month($a)))"
        case "quarter" | "qq" | "q" =>
          s"((year($b) - year($a)) * 4 + (quarter($b) - quarter($a)))"
        case "year" | "yy" | "yyyy" => s"(year($b) - year($a))"
        case "hour" | "hh" =>
          s"((unix_timestamp(date_trunc('HOUR', $b)) - " +
            s"unix_timestamp(date_trunc('HOUR', $a))) DIV 3600)"
        case "minute" | "mi" | "n" =>
          s"((unix_timestamp(date_trunc('MINUTE', $b)) - " +
            s"unix_timestamp(date_trunc('MINUTE', $a))) DIV 60)"
        // unix_timestamp already truncates to the second boundary
        case "second" | "ss" | "s" => s"(unix_timestamp($b) - unix_timestamp($a))"
        // unix_millis likewise truncates micros to the ms boundary
        case "millisecond" | "ms" =>
          s"(unix_millis(CAST($b AS TIMESTAMP)) - unix_millis(CAST($a AS TIMESTAMP)))"
        // SQL Server weeks cross on SUNDAY (default DATEFIRST 7) — count
        // Sunday boundaries via floor-division from a known Sunday
        // (1970-01-04); floor (not DIV) so pre-epoch dates stay correct
        case "week" | "wk" | "ww" =>
          s"(CAST(FLOOR(datediff($b, DATE '1970-01-04') / 7.0) AS BIGINT) - " +
            s"CAST(FLOOR(datediff($a, DATE '1970-01-04') / 7.0) AS BIGINT))"
        case other => throw new IllegalArgumentException(
          s"unsupported DATEDIFF datepart '$other' (subset: day, week, month, " +
            "quarter, year, hour, minute, second, millisecond)")
      })
    })
    s = ci(raw"\bCHARINDEX\s*\(\s*([^,()]+?)\s*,\s*([^()]+?)\s*\)")
      .replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
        s"instr(${m.group(2).trim}, ${m.group(1).trim})"))
    // IIF(cond, a, b) -> if(cond, a, b); args one paren level deep
    s = ci(raw"\bIIF\s*\(").replaceAllIn(s, "if(")
    // DATEPART(part, d) -> year/month/day(d)
    s = ci(raw"\bDATEPART\s*\(\s*(\w+)\s*,\s*$arg\s*\)").replaceAllIn(s, m => {
      val (unit, d) = (m.group(1).toLowerCase, m.group(2).trim)
      java.util.regex.Matcher.quoteReplacement(unit match {
        case "year" | "yy" | "yyyy" => s"year($d)"
        case "quarter" | "qq" | "q" => s"quarter($d)"
        case "month" | "mm" | "m" => s"month($d)"
        case "day" | "dd" | "d" => s"day($d)"
        case "hour" | "hh" => s"hour($d)"
        case "minute" | "mi" | "n" => s"minute($d)"
        case "second" | "ss" | "s" => s"second($d)"
        // SQL Server's default DATEFIRST 7 numbers Sunday=1..Saturday=7 —
        // exactly Spark's dayofweek
        case "weekday" | "dw" => s"dayofweek($d)"
        case "dayofyear" | "dy" => s"dayofyear($d)"
        // the 0-999 millisecond component: epoch-millis mod 1000 (pmod so
        // pre-epoch instants still land in 0..999, the SQL Server range)
        case "millisecond" | "ms" =>
          s"CAST(pmod(unix_millis(CAST($d AS TIMESTAMP)), 1000) AS INT)"
        // SQL Server week-of-year: 1 + Sunday boundaries since Jan 1
        // (default DATEFIRST 7)
        case "week" | "wk" | "ww" =>
          s"(CAST(FLOOR((dayofyear($d) + dayofweek(make_date(year($d), 1, 1)) - 2) / 7.0) AS INT) + 1)"
        case other => throw new IllegalArgumentException(
          s"unsupported DATEPART datepart '$other' (subset: year, quarter, " +
            "month, week, day, hour, minute, second, millisecond, weekday, dayofyear)")
      })
    })
    s = ci(raw"\bSTDEV\s*\(").replaceAllIn(s, "stddev_samp(")
    s = ci(raw"\bVAR\s*\(").replaceAllIn(s, "var_samp(")
    // CONVERT(type, expr) -> CAST(expr AS type); VARCHAR(n)/DATETIME map
    // to Spark types the way SqlRender's target dialects render them
    s = ci(raw"\bCONVERT\s*\(\s*(\w+(?:\s*\(\s*\d+\s*\))?)\s*,\s*$arg\s*\)")
      .replaceAllIn(s, m => {
        val ty = m.group(1).replaceAll(raw"\s+", "").toUpperCase match {
          case t if t.startsWith("VARCHAR") || t.startsWith("NVARCHAR") => "STRING"
          case "DATETIME" | "DATETIME2" => "TIMESTAMP"
          case "BIGINT" => "BIGINT"
          case "INT" | "INTEGER" => "INT"
          case "FLOAT" => "DOUBLE"
          case "DATE" => "DATE"
          case other => throw new IllegalArgumentException(
            s"unsupported CONVERT target type '$other' (subset: VARCHAR, " +
              "DATETIME, BIGINT, INT, FLOAT, DATE)")
        }
        java.util.regex.Matcher.quoteReplacement(s"CAST(${m.group(2).trim} AS $ty)")
      })
    // SQL Server FLOAT is an 8-byte float (SqlRender targets render it
    // FLOAT64/DOUBLE PRECISION); Spark's FLOAT is 4-byte — a verbatim
    // `CAST(x AS FLOAT)` would silently halve precision
    s = ci(raw"\bAS\s+FLOAT\b").replaceAllIn(s, "AS DOUBLE")
    // SQL Server's bare `CAST(x AS VARCHAR)` (no length) is legal and
    // means a short string; Spark requires a length on VARCHAR — map the
    // bare form to STRING (parenthesized VARCHAR(n) passes through)
    s = ci(raw"\bAS\s+VARCHAR\b(?!\s*\()").replaceAllIn(s, "AS STRING")
    // SQL Server string concatenation: `'lit' + expr + ...` chains (the
    // Achilles Heel warning-message idiom) -> concat(...). A chain is
    // rewritten only when at least one term is a string literal — numeric
    // addition never is. Terms are the grammar published heel/DQD SQL
    // actually uses: string literals, one-call-deep function calls
    // (CAST(x AS STRING)), and (qualified) identifiers.
    s = StrPlusChain.replaceAllIn(s, m => {
      val terms = SqlText(m.matched, quotes).split('+').map(_.trim)
      java.util.regex.Matcher.quoteReplacement(
        if (!terms.exists(_.startsWith("'")))
          m.matched // all-identifier/number chain: genuine addition, untouched
        else s"concat(${terms.mkString(", ")})")
    })
    // a string literal still adjacent to `+` means a chain the term
    // grammar could not parse (nested calls two levels deep, subqueries)
    // — fail loudly rather than hand Spark a type error
    require(ci(raw"'\s*\+|\+\s*'").findFirstIn(s).isEmpty,
      "string '+' concatenation too complex for the translate subset " +
        "(term grammar: literals, one-level calls, identifiers) — " +
        "simplify the expression or use concat() directly")
    // SQL Server table hints have no Spark meaning — drop them
    s = ci(raw"\bWITH\s*\(\s*NOLOCK\s*\)").replaceAllIn(s, "")
    // [bracketed] identifiers -> backtick-quoted (SqlRender's dialect quote)
    s = raw"\[([A-Za-z_][A-Za-z0-9_]*)\]".r.replaceAllIn(s, "`$1`")
    s = ci(raw"\bSQUARE\s*\(\s*$arg\s*\)").replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(s"((${m.group(1).trim}) * (${m.group(1).trim}))"))
    // leftover detection: DATEADD/CHARINDEX never appear in our output
    // (we emit date_add/add_months/instr); a surviving DATEDIFF is only an
    // untranslated SQL Server call when its first argument is a datepart
    // keyword (Spark's own two-arg datediff — which we emit — never is)
    for (fn <- Seq("DATEADD", "CHARINDEX", "DATEPART", "SQUARE"))
      require(ci(raw"\b$fn\s*\(").findFirstIn(s).isEmpty,
        s"$fn call too complex for the translate subset (nested parentheses?) — " +
          "simplify the arguments or pre-translate that expression")
    require(
      ci(raw"\bDATEDIFF\s*\(\s*(?:day|dd|d|month|mm|m|year|yy|yyyy|quarter|qq|hour|hh|minute|mi|second|ss)\s*,")
        .findFirstIn(s).isEmpty,
      "DATEDIFF call too complex for the translate subset (nested parentheses?) — " +
        "simplify the arguments or pre-translate that expression")
    // SELECT TOP n -> statement-final LIMIT n (per statement; callers
    // split on ';' before translating)
    ci(raw"\bSELECT\s+TOP\s+(\d+)\b").findFirstMatchIn(s) match {
      case Some(m) =>
        val n = m.group(1)
        s = ci(raw"\bSELECT\s+TOP\s+\d+\b").replaceFirstIn(s, "SELECT")
        s = s.stripTrailing() + s" LIMIT $n"
      case None => ()
    }
    // temp tables: #name -> a session temp view name
    s = ci(raw"#(\w+)").replaceAllIn(s, "tmp_ohdsi_$1")
    text.unmask(s)
  }

  /** A possibly-backtick-quoted, possibly-qualified table name as it
    * looks AFTER [[translate]] (brackets become backticks): each dotted
    * component either `` `name` `` or bare. The published templates
    * address warehouse tables by their full
    * `[catalog].[schema].[table]` three-part names.
    */
  private val QNamePat = "(?:`\\w+`|\\w+)(?:\\.(?:`\\w+`|\\w+))*"

  /** Strip backtick quoting from a translated qualified name — the form
    * `spark.table` / `spark.catalog` APIs take.
    */
  private def cleanName(n: String): String = n.replace("`", "")

  private val DropIfExists =
    ci(raw"(?s)^\s*IF\s+OBJECT_ID\s*\(.*?\)\s+IS\s+NOT\s+NULL\s+DROP\s+TABLE\s+(\S+)\s*$$")
  private val DropTable = ci(raw"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\S+)\s*$$")
  /** `ALTER TABLE ... ADD CONSTRAINT ...` — constraints have no Spark
    * analogue (D3 n/a by design; the DQD battery is the checking
    * analogue), so the published DDL's PRIMARY KEY / FOREIGN KEY
    * statements are accepted and ignored, exactly like the reference's
    * BigQuery dialect which has no constraints either.
    */
  private val AlterAddConstraint =
    ci(raw"(?s)^\s*ALTER\s+TABLE\s+\S+\s+ADD\s+CONSTRAINT\b.*$$")

  /** Drop a table by its translated name: a dotted non-global-temp name
    * is a catalog table (dropped WITH its managed location — the stale
    * location trap); a bare name is a session temp view.
    */
  private def dropAnyTable(spark: SparkSession, target: String): Unit = {
    val clean = cleanName(target)
    if (clean.contains(".") && !clean.toLowerCase.startsWith("global_temp.")) {
      val parts = clean.split('.')
      // lowercased: the managed location on disk is lowercase even when
      // the DDL wrote PERSON-style caps
      val dbTbl = (if (parts.length == 3) s"${parts(1)}.${parts(2)}" else clean).toLowerCase
      spark.sql(s"DROP TABLE IF EXISTS $dbTbl")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") +
          s"/${dbTbl.split('.').head}.db/${dbTbl.split('.').last}")
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    } else spark.catalog.dropTempView(clean)
  }
  private val SelectInto = ci(raw"(?s)^(.*?\bSELECT\b.*?)\bINTO\s+(tmp_ohdsi_\w+)\s+(FROM\b.*)$$")
  private val InsertInto = ci(
    raw"(?s)^\s*INSERT\s+INTO\s+(tmp_ohdsi_\w+)\s*(?:\(\s*([\w\s,]+?)\s*\)\s*)?(SELECT\b.*|WITH\b.*)$$")
  /** INSERT INTO a qualified catalog table (the `{omop_table}_merge`
    * final-load statement; the temp-view form above matches first).
    */
  private val InsertIntoTable = ci(
    raw"(?s)^\s*INSERT\s+INTO\s+($QNamePat)\s*(?:\(\s*([\w\s,`]+?)\s*\)\s*)?(SELECT\b.*|WITH\b.*)$$")
  // DELETE / UPDATE over registered views — the statement classes the
  // reference renders directly: `delete from
  // @resultsDatabaseSchema.achilles_results where analysis_id in
  // (@analysisIds)` (the update-given-analyses flow, `achilles.py:243-270`
  // and `:117-136`) and `UPDATE <t> SET invalid_reason = 'D' where ...`
  // (the tombstoning templates,
  // `SOURCE_TO_CONCEPT_MAP_update_invalid_reason.sql.jinja:3-5`). The
  // view is re-registered over the rewritten frame (views are the
  // bridge's tables — same discipline as the INSERT merge flow).
  // the S7/D6 vocabulary-refill statement class
  // (`vocabulary_table_truncate.sql.jinja:3`): empty the view, keep the
  // schema
  private val TruncateTable =
    ci(raw"^\s*TRUNCATE\s+TABLE\s+($QNamePat)\s*$$")
  // FROM is optional: T-SQL allows `DELETE <table> WHERE ...` (the
  // remove-custom-concepts-by-usagi cleanup template's form)
  private val DeleteFrom =
    ci(raw"(?s)^\s*DELETE\s+(?:FROM\s+)?($QNamePat)\s*(?:\bWHERE\b(.*?))?\s*$$")
  // the optional alias (`UPDATE <t> T SET ...`) is the GoogleSQL
  // tombstoning shape (`bigquery/.../SOURCE_TO_CONCEPT_MAP_update_invalid_reason
  // .sql.jinja:3`); the negative lookahead keeps SET from parsing as it
  private val UpdateSet =
    ci(raw"(?s)^\s*UPDATE\s+($QNamePat)(?:\s+(?:AS\s+)?(?!SET\b)(\w+))?\s+SET\s+(.*?)\s*$$")
  /** `USE [catalog];` — SQL Server's database-context switch
    * (`CONCEPT_ID_swap_create.sql.jinja:3`,
    * `all_work_table_names.sql.jinja:3`). Every table reference the
    * published templates make after a USE is still FULLY QUALIFIED, so
    * the bridge records nothing and treats the statement as a no-op
    * (changing the Spark session's current database would leak context
    * into unrelated queries sharing the session).
    */
  private val UseDb = ci(raw"^\s*USE\s+($QNamePat)\s*$$")

  /** Re-register `target` over a rewritten frame. A bare name is a
    * session temp view, `global_temp.x` a global one — `spark.table`
    * analyzes eagerly, so the new view snapshots the OLD view's plan
    * rather than self-referencing (the property the INSERT merge flow
    * relies on). A DOTTED name that is not `global_temp` is a real
    * catalog table (the published templates' three-part warehouse
    * names): the rewrite MATERIALIZES first (Spark refuses to overwrite
    * a table from a plan still reading it) and then atomically swaps the
    * managed table — the reference's own CTAS-replace discipline (S11).
    */
  private def reRegister(spark: SparkSession, target: String, df: DataFrame): Unit = {
    val clean = cleanName(target)
    if (clean.toLowerCase.startsWith("global_temp."))
      df.createOrReplaceGlobalTempView(clean.substring("global_temp.".length))
    else if (clean.contains(".")) replaceCatalogTable(spark, clean, df)
    else df.createOrReplaceTempView(clean)
  }

  /** Drop-and-recreate a catalog table (`[db.]table` or
    * `catalog.db.table`, catalog stripped — the session has one) at its
    * registered location, or at the conventional warehouse path when it
    * has none. The files at the location are moved aside before the DROP
    * and deleted after the recreate: a LOCATION left by a previous JVM
    * whose in-memory catalog forgot the entry would otherwise fail the
    * recreate (the r15 lesson).
    *
    * Swap-by-rename (optimization guide §6 — write once, move the
    * pointer): the fresh contents are written ONCE to a staging
    * directory beside the final location (same filesystem), promoted by
    * [[graft.io.AtomicWrite.promote]], and the catalog entry re-pointed
    * with the frame's exact schema. The live files are demoted BEFORE
    * the DROP (dropping a managed table deletes its location); a failed
    * promote moves them back and re-registers the previous entry over
    * them, so a read by name still returns the previous rows. The
    * previous protocol materialized to /tmp, read the copy back and
    * `saveAsTable`d it — every write-back paid the data bytes TWICE plus
    * a read; at 100 TB a catalog rewrite now moves each byte exactly once. Self-read safety is unchanged: the
    * plan still reads the live location while the staging copy is
    * written, and the swap happens only after the write completes.
    */
  def replaceCatalogTable(spark: SparkSession, name: String, df: DataFrame): Unit = {
    val parts = cleanName(name).split('.')
    // catalog identifiers are case-insensitive and STORED lowercased —
    // the managed location on disk is lowercase even when the DDL wrote
    // the name in caps (the published CDM DDL's PERSON/COST style)
    val dbTbl = (if (parts.length == 3) s"${parts(1)}.${parts(2)}"
      else cleanName(name)).toLowerCase
    val db = dbTbl.split('.').head
    val tbl = dbTbl.split('.').last
    // clustering parity (SURVEY §1.3): a table created with the published
    // CLUSTER BY carries its keys in graft.cluster_by — every rewrite
    // re-sorts within partitions, so the stored layout keeps the
    // BigQuery clustering semantics (block-local key order -> parquet
    // row-group min/max skipping on the cluster keys)
    val clusterBy = tableClusterBy(spark, dbTbl)
    val fresh = clusterBy match {
      case Some(keys) => df.sortWithinPartitions(
        keys.map(org.apache.spark.sql.functions.col): _*)
      case None => df
    }
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val prior =
      if (!spark.catalog.tableExists(dbTbl)) None
      else Some(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl, Some(db))))
    // the table's REGISTERED location when it has one (a table created
    // elsewhere keeps living there, and its old files are the ones to
    // retire), else the conventional warehouse path
    val loc = prior.map(t => new org.apache.hadoop.fs.Path(t.location)).getOrElse(
      new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/$db.db/$tbl"))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // dot-prefixed staging beside it (a same-filesystem rename): invisible
    // to Spark file listing, cannot collide with a table name
    val staging = new org.apache.hadoop.fs.Path(loc.getParent, s".graft_stage_$tbl")
    def register(schema: org.apache.spark.sql.types.StructType, location: String): Unit = {
      val props = clusterBy.map(keys =>
        s" TBLPROPERTIES ('graft.cluster_by' = '${keys.mkString(",")}')").getOrElse("")
      spark.sql(s"CREATE TABLE $dbTbl (${schema.toDDL}) " +
        s"USING parquet LOCATION '$location'$props")
      ()
    }
    fs.delete(staging, true)
    try {
      fresh.write.mode("overwrite").parquet(staging.toString)
      val old =
        try graft.io.AtomicWrite.promote(fs, staging, loc,
          detached = () => { spark.sql(s"DROP TABLE IF EXISTS $dbTbl"); () })
        catch { case scala.util.control.NonFatal(e) =>
          // the previous files are back where the previous entry named them
          if (!spark.catalog.tableExists(dbTbl))
            prior.foreach(t => register(t.schema, t.location.toString))
          throw e
        }
      // explicit schema — exactly the read-back schema of the files just
      // written (file sources read parquet columns as nullable), so the
      // catalog entry matches what the old read-back-and-save protocol
      // recorded, with no inference pass over the footers
      register(org.apache.spark.sql.types.StructType(
        df.schema.fields.map(_.copy(nullable = true))), loc.toString)
      fs.delete(old, true)
    } finally {
      fs.delete(staging, true)
    }
  }

  /** Append rows to a catalog table WITHOUT rewriting it: materialize
    * ONLY the delta to a staging directory (self-read safe — the select
    * may scan the target, whose files are untouched until the moves),
    * then move the delta's data files into the live location and refresh
    * the table's file listing. SQL INSERT semantics — existing bytes are
    * never read or rewritten, which at 100 TB is the difference between
    * writing the delta and rewriting the table (guide §6).
    */
  private def appendCatalogTable(spark: SparkSession, dbTbl: String, delta: DataFrame): Unit = {
    val db = dbTbl.split('.').head
    val tbl = dbTbl.split('.').last
    // clustered tables keep per-file key order: the existing files were
    // written sorted; the delta's files sort on their own
    val sorted = tableClusterBy(spark, dbTbl) match {
      case Some(keys) => delta.sortWithinPartitions(
        keys.map(org.apache.spark.sql.functions.col): _*)
      case None => delta
    }
    // the table's REGISTERED location (not the conventional path — a
    // table staged elsewhere appends where its files actually live)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl, Some(db))).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // staged beside the registered location, so each move is a
    // same-filesystem rename wherever the table lives
    val staging = new org.apache.hadoop.fs.Path(loc.getParent, s".graft_stage_append_$tbl")
    fs.delete(staging, true)
    try {
      sorted.write.mode("overwrite").parquet(staging.toString)
      if (!fs.exists(loc)) fs.mkdirs(loc)
      // part-file names carry the write job's UUID — unique in the target
      fs.listStatus(staging)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .foreach { f =>
          val dest = new org.apache.hadoop.fs.Path(loc, f.getPath.getName)
          require(fs.rename(f.getPath, dest), s"append rename failed: ${f.getPath} -> $dest")
        }
      spark.catalog.refreshTable(dbTbl)
    } finally {
      fs.delete(staging, true)
    }
  }

  /** The recorded CLUSTER BY keys of a catalog table (None when the
    * table does not exist or was created without clustering).
    */
  def tableClusterBy(spark: SparkSession, dbTbl: String): Option[Seq[String]] = {
    val parts = dbTbl.split('.')
    if (parts.length != 2 || !spark.catalog.tableExists(dbTbl)) None
    else spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(parts(1), Some(parts(0))))
      .properties.get("graft.cluster_by")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
  }

  /** Split a statement's leading `WITH name AS (...) [, name AS (...)]*`
    * prefix (quote-aware, balanced parens) from its body: `(ctePrefix,
    * body)`; ctePrefix is empty when the statement has no WITH.
    */
  private def splitLeadingWith(stmt: String, q: SqlText.Quotes): (String, String) = {
    val m = ci(raw"^\s*WITH\b").findFirstMatchIn(stmt)
    m match {
      case None => ("", stmt)
      case Some(w) =>
        val text = SqlText(stmt, q)
        var i = w.end
        var more = true
        while (more) {
          val (open, close) = text.parenSpan(i)
          require(open < stmt.length, "malformed WITH: missing CTE body")
          require(close > open, "malformed WITH: unbalanced CTE body")
          var j = close + 1
          while (j < stmt.length && Character.isWhitespace(stmt.charAt(j))) j += 1
          if (j < stmt.length && stmt.charAt(j) == ',') { i = j + 1 }
          else { more = false; i = j }
        }
        (stmt.substring(0, i), stmt.substring(i))
    }
  }

  /** The SQL Server `UPDATE <alias> SET ... FROM <table> AS <alias>
    * INNER JOIN <rel> <ra> ON <cond>` statement (optionally under a
    * leading CTE) — the reference's update-from-join templates
    * (`{omop_table}__{concept_id_column}_usagi_update_custom_concepts
    * .sql.jinja:9-16`, the custom-concept id injection; natively
    * [[graft.operators.Upsert.updateFromJoin]]). Emulated as ONE
    * rewritten SELECT: target LEFT JOIN the (match-flagged) join
    * relation under the original ON — predicates on the target inside
    * the ON restrict WHICH rows update, exactly the UPDATE..FROM
    * semantics — with each assigned column a CASE over the match flag.
    * SQL Server silently picks an arbitrary source row when a target row
    * matches several; this bridge REFUSES instead (the MERGE 8672
    * discipline) — a documented strictness, never a silent
    * nondeterminism.
    */
  private def executeUpdateFrom(spark: SparkSession, ctes: String, body: String,
      q: SqlText.Quotes): Unit = {
    // two published shapes share the semantics:
    //   T-SQL:     UPDATE a SET ... FROM t [AS] a INNER JOIN rel [AS] r ON cond
    //   GoogleSQL: UPDATE t [AS] a SET ... FROM ( subquery ) r WHERE cond
    //              (the bigquery usagi_update_custom_concepts form)
    val joinShape = ci(raw"(?s)^\s*UPDATE\s+(\w+)\s+SET\s+(.*?)\s+FROM\s+($QNamePat)\s+(?:AS\s+)?(\w+)\s+INNER\s+JOIN\s+($QNamePat)\s+(?:AS\s+)?(\w+)\s+ON\s+(.*?)\s*;?\s*$$")
      .findFirstMatchIn(body)
    val (ua, setBody, tbl, ta, rel, ra, cond) = joinShape match {
      case Some(hm) =>
        (hm.group(1), hm.group(2), hm.group(3), hm.group(4), hm.group(5),
          hm.group(6), hm.group(7))
      case None =>
        val gm = ci(raw"(?s)^\s*UPDATE\s+($QNamePat)\s+(?:AS\s+)?(\w+)\s+SET\s+(.*?)\s+FROM\s*\(")
          .findFirstMatchIn(body)
          .getOrElse(throw new IllegalArgumentException(
            "unsupported UPDATE..FROM shape (expected: UPDATE a SET ... FROM t " +
              "[AS] a INNER JOIN rel [AS] r ON cond, or UPDATE t [AS] a SET ... " +
              "FROM ( subquery ) r WHERE cond)"))
        val (start, end) = SqlText(body, q).parenSpan(gm.end - 1)
        require(end > start, "unbalanced parentheses in UPDATE..FROM subquery")
        val sub = body.substring(start + 1, end)
        val tm = ci(raw"(?s)^\s*(\w+)\s+WHERE\s+(.*?)\s*;?\s*$$")
          .findFirstMatchIn(body.substring(end + 1))
          .getOrElse(throw new IllegalArgumentException(
            "unsupported UPDATE..FROM tail (expected: ) <alias> WHERE <cond>)"))
        (gm.group(2), gm.group(3), gm.group(1), gm.group(2),
          s"( $sub )", tm.group(1), tm.group(2))
      }
    require(ua.equalsIgnoreCase(ta),
      s"UPDATE alias '$ua' must name the FROM target alias '$ta'")
    val assigns = SqlText(setBody, q).split(',').map(_.trim).filter(_.nonEmpty).map { a =>
      val eq = a.indexOf('=')
      require(eq > 0, s"unsupported UPDATE assignment '$a'")
      val lhs = a.substring(0, eq).trim
      (lhs.substring(lhs.lastIndexOf('.') + 1).toLowerCase, a.substring(eq + 1).trim)
    }.toMap
    val cols = spark.table(tbl).columns
    val unknown = assigns.keySet -- cols.map(_.toLowerCase).toSet
    require(unknown.isEmpty,
      s"UPDATE $tbl assigns unknown column(s): ${unknown.mkString(", ")}")
    val joinSrc = s"(SELECT *, 1 AS __upd_m FROM $rel) $ra"
    // one-match contract: a second join row would duplicate target rows
    val base = spark.table(tbl).count()
    val joinedN = spark.sql(
      s"$ctes SELECT count(*) FROM $tbl AS $ta LEFT JOIN $joinSrc ON $cond")
      .head().getLong(0)
    require(joinedN == base,
      s"UPDATE..FROM $tbl: a target row matches more than one join row " +
        "(SQL Server picks one arbitrarily; this bridge refuses — dedup the join side)")
    val proj = cols.map { c =>
      assigns.get(c.toLowerCase) match {
        case Some(e) =>
          s"CASE WHEN $ra.__upd_m IS NOT NULL THEN ($e) ELSE $ta.$c END AS $c"
        case None => s"$ta.$c AS $c"
      }
    }.mkString(",\n  ")
    reRegister(spark, tbl, spark.sql(
      s"$ctes SELECT $proj FROM $tbl AS $ta LEFT JOIN $joinSrc ON $cond"))
  }

  /** The SQL Server `MERGE INTO` statement of the reference's ETL
    * templates (`SOURCE_TO_CONCEPT_MAP_merge.sql.jinja`,
    * `SOURCE_ID_TO_OMOP_ID_MAP_merge.sql.jinja`,
    * `{omop_table}_merge.sql.jinja:168-240` — the grammar: `MERGE INTO t
    * AS T USING (subquery) AS S ON cond WHEN MATCHED THEN UPDATE SET
    * T.c = e, ... WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs)`),
    * emulated over the registered views: matched target rows take the
    * UPDATE projection, unmatched source rows project into the target
    * schema and union in — the same upsert semantics
    * [[graft.operators.Upsert.merge]] implements natively. SQL Server
    * raises error 8672 when a target row matches MORE than one source
    * row; the emulation enforces the same contract with a bounded
    * duplicate-match probe instead of producing nondeterministic output.
    */
  private def executeMerge(spark: SparkSession, stmt: String, ctes: String,
      q: SqlText.Quotes): Unit = {
    import org.apache.spark.sql.functions.{col => fcol, expr => fexpr, lit => flit,
      when => fwhen, monotonically_increasing_id}
    val head = ci(raw"^\s*MERGE\s+INTO\s+($QNamePat)\s+(?:AS\s+)?(\w+)\s+USING\s*")
      .findFirstMatchIn(stmt)
      .getOrElse(throw new IllegalArgumentException(
        "unsupported MERGE shape (expected: MERGE INTO <t> [AS] <alias> USING (...))"))
    val (target, tA) = (head.group(1), head.group(2))
    val (start, end) = SqlText(stmt, q).parenSpan(head.end)
    require(start < stmt.length, "MERGE USING must be a parenthesized subquery")
    require(end > start, "unbalanced parentheses in MERGE USING subquery")
    val srcSql = stmt.substring(start + 1, end)
    // a leading `WITH name AS (...)` prefix (the CONCEPT_ID_swap_merge
    // shape) scopes over the USING subquery — the only place the
    // published MERGE templates reference their CTEs
    val srcFull = if (ctes.trim.isEmpty) srcSql else s"${ctes.trim} $srcSql"
    val tail = stmt.substring(end + 1)
    val tailM = ci(raw"^\s*(?:AS\s+)?(\w+)\s+ON\b").findFirstMatchIn(tail)
      .getOrElse(throw new IllegalArgumentException(
        "unsupported MERGE shape (expected: ... ) [AS] <alias> ON <cond>)"))
    val sA = tailM.group(1)
    val afterOn = tail.substring(tailM.end)
    val clauses = SqlText(afterOn, q)
    val wm = clauses.keywords("WHEN MATCHED THEN UPDATE SET").headOption
    val wnm = clauses.keywords("WHEN NOT MATCHED THEN INSERT").headOption
    // the targeted-removal cleanup templates' form: matched rows DELETE
    val wd = clauses.keywords("WHEN MATCHED THEN DELETE").headOption
    require(wm.isDefined || wnm.isDefined || wd.isDefined,
      "MERGE needs a WHEN MATCHED or WHEN NOT MATCHED clause")
    require(wm.isEmpty || wd.isEmpty,
      "MERGE cannot both UPDATE and DELETE matched rows")
    val condEnd = Seq(wm, wnm, wd).flatten.map(_._1).min
    val cond = afterOn.substring(0, condEnd).trim
    val assigns: Map[String, String] = wm match {
      case None => Map.empty
      case Some((ws, we)) =>
        val setBody = afterOn.substring(we,
          wnm.map(_._1).filter(_ > ws).getOrElse(afterOn.length))
        SqlText(setBody, q).split(',').map(_.trim).filter(_.nonEmpty).map { a =>
          val eq = a.indexOf('=')
          require(eq > 0, s"unsupported MERGE assignment '$a'")
          val lhs = a.substring(0, eq).trim
          // strip the T. prefix and any backtick quoting (bracketed
          // template columns translate to backticks)
          val name = cleanName(lhs.substring(lhs.lastIndexOf('.') + 1))
          (name.toLowerCase, a.substring(eq + 1).trim)
        }.toMap
    }
    val insertOpt: Option[(Seq[String], Seq[String])] =
      wnm.map { case (ws, we) =>
        // T-SQL allows the clauses in either order: when WHEN MATCHED
        // FOLLOWS the insert clause, bound the insert body at it (the
        // greedy VALUES regex would otherwise swallow the UPDATE clause
        // and fail with a misleading "unsupported INSERT shape")
        val body = afterOn.substring(we,
          wm.map(_._1).filter(_ > ws).getOrElse(afterOn.length))
        if (body.trim.equalsIgnoreCase("ROW")) {
          // GoogleSQL `INSERT ROW`: the whole source row, columns by name
          val srcCols = spark.sql(srcFull).columns.toSeq
          (srcCols, srcCols.map(c => s"$sA.$c"))
        } else {
          val im = ci(raw"(?s)^\s*\(([\w\s,`]+?)\)\s*VALUES\s*\((.*)\)\s*$$")
            .findFirstMatchIn(body)
            .getOrElse(throw new IllegalArgumentException(
              "unsupported MERGE INSERT shape (expected: INSERT (cols) VALUES (exprs) or INSERT ROW)"))
          (im.group(1).split(",").map(c => cleanName(c.trim)).filter(_.nonEmpty).toSeq,
            SqlText(im.group(2), q).split(',').map(_.trim).toSeq)
        }
      }
    val tgtSchema = spark.table(target).schema
    // duplicate-match guard (SQL Server error 8672): bounded — stops at
    // the first offending target row
    val keyed = spark.table(target)
      .withColumn("__t_rid", monotonically_increasing_id()).alias(tA)
    val srcM = spark.sql(srcFull)
      .withColumn("__s_m", flit(1)).alias(sA)
    val joined = keyed.join(srcM, fexpr(cond), "left")
    val dups = joined.filter(fcol("__s_m").isNotNull)
      .groupBy(fcol("__t_rid")).count()
      .filter(fcol("count") > 1).limit(1).count()
    require(dups == 0,
      s"MERGE INTO $target: a target row matches more than one source row " +
        "(SQL Server raises error 8672 here; dedup the USING subquery)")
    val updated =
      if (wd.isDefined)
        // WHEN MATCHED THEN DELETE: unmatched target rows survive
        joined.filter(fcol("__s_m").isNull)
          .select(tgtSchema.map(f => fcol(s"$tA.${f.name}").as(f.name)): _*)
      else joined.select(tgtSchema.map { f =>
        assigns.get(f.name.toLowerCase) match {
          case Some(e) =>
            fwhen(fcol("__s_m").isNotNull, fexpr(e)).otherwise(fcol(s"$tA.${f.name}"))
              .cast(f.dataType).as(f.name)
          case None => fcol(s"$tA.${f.name}").as(f.name)
        }
      }: _*)
    val result = insertOpt match {
      case None => updated
      case Some((cols, vals)) =>
        require(cols.length == vals.length,
          s"MERGE INSERT has ${cols.length} columns but ${vals.length} values")
        val pairs = cols.map(_.toLowerCase).zip(vals).toMap
        val unknown = pairs.keySet -- tgtSchema.map(_.name.toLowerCase).toSet
        require(unknown.isEmpty,
          s"MERGE INSERT names unknown column(s): ${unknown.mkString(", ")}")
        val anti = spark.sql(srcFull).alias(sA)
          .join(spark.table(target).alias(tA), fexpr(cond), "left_anti")
        val inserted = anti.select(tgtSchema.map { f =>
          pairs.get(f.name.toLowerCase) match {
            case Some(v) => fexpr(v).cast(f.dataType).as(f.name)
            case None => flit(null).cast(f.dataType).as(f.name)
          }
        }: _*)
        updated.unionByName(inserted)
    }
    reRegister(spark, target, result)
  }

  /** The template tree a vendored RiaB template comes from. The two trees
    * differ in three ways the runner owns: the resource name (BigQuery
    * files carry a `bq_` prefix), the variables that name a location
    * (`{omop,work,dqd}_database_catalog` + `_schema` against
    * `dataset_{omop,work,dqd}`), and the execution path ([[runTemplate]]).
    */
  sealed abstract class Dialect(prefix: String) {
    /** The resource of the template whose SQL Server resource is `base`. */
    def file(base: String): String = prefix + base
    /** Render variables naming catalog database `db` as the tree's
      * `role` location (`omop`, `work` or `dqd`).
      */
    protected def location(role: String, db: String): Map[String, String]
    def omop(db: String): Map[String, String] = location("omop", db)
    def work(db: String): Map[String, String] = location("work", db)
    def dqd(db: String): Map[String, String] = location("dqd", db)
    def pick[A](sqlServer: => A, bigQuery: => A): A =
      if (this == SqlServer) sqlServer else bigQuery
  }
  case object SqlServer extends Dialect("") {
    protected def location(role: String, db: String): Map[String, String] = Map(
      s"${role}_database_catalog" -> "spark_catalog",
      s"${role}_database_schema" -> db)
  }
  case object BigQuery extends Dialect("bq_") {
    protected def location(role: String, db: String): Map[String, String] =
      Map(s"dataset_$role" -> db)
  }

  /** The vendored template `graft/ohdsi/<name>.sql.jinja`; a missing
    * resource fails with its name.
    */
  def template(name: String): String = {
    val in = getClass.getResourceAsStream(s"/graft/ohdsi/$name.sql.jinja")
    require(in != null, s"missing vendored template resource $name.sql.jinja")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Render the vendored template `name` with JinjaLite and run it the way
    * the reference runs its tree: SQL Server through [[executeAll]] (with
    * the SqlRender pass unless `sqlRender` is false — the DDL tree),
    * BigQuery through [[translateBigQuery]] and [[executeAll]] without
    * SqlRender (the reference drives that tree through Jinja and the
    * BigQuery client only), scanned with the GoogleSQL quote rule so a
    * `"..."` string stays a literal. Returns the last SELECT's frame, if
    * any.
    */
  def runTemplate(s: SparkSession, dialect: Dialect, name: String,
      vars: Map[String, String] = Map.empty,
      lists: Map[String, Seq[String]] = Map.empty,
      dicts: Map[String, Seq[(String, String)]] = Map.empty,
      records: Map[String, Seq[Map[String, String]]] = Map.empty,
      binds: Map[String, String] = Map.empty,
      sqlRender: Boolean = true): Option[DataFrame] = {
    val rendered = JinjaLite.render(template(name), vars, lists, dicts, records)
    dialect match {
      case SqlServer => executeAll(s, rendered, binds = binds, sqlRender = sqlRender)
      case BigQuery =>
        executeAll(s, translateBigQuery(rendered), binds = binds, sqlRender = false,
          quotes = SqlText.GoogleSql)
    }
  }

  /** Render + translate + run a multi-statement OHDSI SQL script against
    * the session's registered views; returns the final SELECT's frame.
    */
  def execute(spark: SparkSession, sql: String,
      params: Map[String, String] = Map.empty,
      binds: Map[String, String] = Map.empty,
      sqlRender: Boolean = true): DataFrame =
    executeAll(spark, sql, params, binds, sqlRender).getOrElse(
      throw new IllegalArgumentException(
        "OHDSI SQL script contains no result-producing SELECT"))

  /** Like [[execute]] but tolerates a script with no final SELECT (many
    * published templates are pure mutations — the tombstoning UPDATEs,
    * the cleanup DELETEs): returns the last SELECT's frame if any.
    * `quotes` is the script's string-literal rule, which every pass and
    * statement handler scans with.
    */
  def executeAll(spark: SparkSession, sql: String,
      params: Map[String, String] = Map.empty,
      binds: Map[String, String] = Map.empty,
      sqlRender: Boolean = true,
      quotes: SqlText.Quotes = SqlText.TSql): Option[DataFrame] = {
    val statements = translateScript(sql, params, binds, sqlRender, quotes)
    var last: Option[DataFrame] = None
    // leading `--` comment lines (the published templates' rule/analysis
    // headers) would defeat the ^-anchored statement dispatch below —
    // drop them for dispatch (semantically neutral; inline comments stay)
    statements.map(_.linesIterator
        .dropWhile(l => l.trim.isEmpty || l.trim.startsWith("--"))
        .mkString("\n"))
      .map(rewriteSysCatalog(spark, _, quotes))
      .map(rewriteInfoSchema(spark, _, quotes))
      .foreach {
      case DropIfExists(tgt) => dropAnyTable(spark, tgt)
      case DropTable(tgt) => dropAnyTable(spark, tgt)
      case UseDb(_) => () // context no-op: template names are fully qualified
      case stmt if AlterAddConstraint.findFirstIn(stmt).isDefined => ()
      case stmt if ci(raw"^\s*DECLARE\s+@").findFirstIn(stmt).isDefined =>
        // the CDM DDL preamble: DECLARE @v = '' / SELECT @v += ... FROM
        // sys.foreign_keys / EXECUTE sp_executesql @v — one fused blob
        // (T-SQL needs no separators). Spark tables carry NO foreign-key
        // constraints, so the accumulation runs over an empty set and the
        // dynamic drop script stays '' — the whole blob is a no-op. Any
        // OTHER dynamic-SQL shape refuses loudly.
        require(
          ci(raw"\bFROM\s+sys\.foreign_keys\b").findFirstIn(stmt).isDefined &&
            ci(raw"\bEXECUTE\s+sp_executesql\b").findFirstIn(stmt).isDefined,
          "unsupported DECLARE/dynamic-SQL shape (only the published CDM " +
            "DDL's sys.foreign_keys constraint-drop preamble is recognized)")
      case stmt if ci(raw"^\s*IF\s+NOT\s+EXISTS\s*\(").findFirstIn(stmt).isDefined =>
        executeIfNotExists(spark, stmt, quotes)
      case stmt if ci(raw"^\s*CREATE\s+TABLE\s+IF\s+NOT\s+EXISTS\b").findFirstIn(stmt).isDefined =>
        // the GoogleSQL guarded-DDL form (swap_create in the bigquery
        // tree); a trailing CLUSTER BY clause forwards so the created
        // table records its clustering keys
        val m = ci(raw"(?s)^\s*CREATE\s+TABLE\s+IF\s+NOT\s+EXISTS\s+($QNamePat)\s*\((.*)\)\s*(CLUSTER\s+BY\b.*?)?\s*$$")
          .findFirstMatchIn(stmt)
          .getOrElse(throw new IllegalArgumentException(
            "unsupported CREATE TABLE IF NOT EXISTS shape"))
        val parts = cleanName(m.group(1)).split('.')
        val dbTbl = (if (parts.length == 3) s"${parts(1)}.${parts(2)}"
          else cleanName(m.group(1))).toLowerCase
        if (!spark.catalog.tableExists(dbTbl))
          executeCreateTable(spark,
            s"CREATE TABLE ${m.group(1)} (${m.group(2)}) ${Option(m.group(3)).getOrElse("")}",
            quotes)
      case stmt if ci(raw"^\s*CREATE\s+OR\s+REPLACE\s+TABLE\b").findFirstIn(stmt).isDefined =>
        executeCreateOrReplace(spark, stmt, quotes)
      case stmt if ci(raw"^\s*IF\s+EXISTS\s*\(").findFirstIn(stmt).isDefined =>
        executeIfExists(spark, stmt, quotes)
      case stmt if ci(raw"^\s*CREATE\s+TABLE\b").findFirstIn(stmt).isDefined =>
        executeCreateTable(spark, stmt, quotes)
      // indexes have no Spark analogue (data layout is partitioning /
      // bucketing); the reference's own BigQuery dialect likewise skips
      // them ("INDEX CREATION SKIPPED", achilles.py) — accept and ignore
      case stmt if ci(raw"^\s*CREATE\s+(?:UNIQUE\s+|CLUSTERED\s+)?INDEX\b").findFirstIn(stmt).isDefined => ()
      case stmt if {
        val (_, b) = splitLeadingWith(stmt, quotes)
        ci(raw"^\s*MERGE\s+INTO\b").findFirstIn(b).isDefined
      } =>
        val (ctes, b) = splitLeadingWith(stmt, quotes)
        executeMerge(spark, b, ctes, quotes)
      case TruncateTable(target) =>
        reRegister(spark, target, spark.table(target).limit(0))
      case DeleteFrom(target, cond) =>
        // DELETE removes rows where the predicate is TRUE; rows where it
        // is NULL survive (SQL three-valued semantics), hence the
        // coalesce-to-false before negation. A bare DELETE truncates.
        val df = spark.table(target)
        val kept = Option(cond).map(_.trim).filter(_.nonEmpty) match {
          case Some(c) =>
            df.filter(!org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.expr(c),
              org.apache.spark.sql.functions.lit(false)))
          case None => df.limit(0)
        }
        reRegister(spark, target, kept)
      case stmt if {
        val (_, b) = splitLeadingWith(stmt, quotes)
        ci(raw"^\s*UPDATE\b").findFirstIn(b).isDefined &&
          SqlText(b, quotes).keywords("FROM").nonEmpty
      } =>
        val (ctes, b) = splitLeadingWith(stmt, quotes)
        executeUpdateFrom(spark, ctes, b, quotes)
      case UpdateSet(target, aliasOpt, bodyRaw) =>
        // UPDATE t [alias] SET a = e1, b = e2 [WHERE cond]: rewrite as a
        // projection — each assigned column becomes
        // when(cond, e).otherwise(old). The WHERE splits off at depth 0
        // outside quotes (an `=` inside a CASE WHEN stays in its expr).
        import org.apache.spark.sql.functions.{col => fcol, expr => fexpr, lit => flit, when => fwhen}
        // an alias only qualifies the target's own columns here — strip
        // its prefix (outside quotes) so expressions resolve on the frame
        val body = Option(aliasOpt).fold(bodyRaw)(a => SqlText(bodyRaw, quotes).mapCode(
          ci(raw"(?<![\p{L}\p{Nd}_.])" + java.util.regex.Pattern.quote(a) + raw"\.")
            .replaceAllIn(_, "")))
        val (setPart, condPart) = SqlText(body, quotes).keywords("WHERE").lastOption match {
          case Some((i, _)) => (body.substring(0, i), Some(body.substring(i + 5)))
          case None => (body, None)
        }
        val cond = condPart.map(c => fexpr(c.trim)).getOrElse(flit(true))
        val assigns = SqlText(setPart, quotes).split(',').map(_.trim).filter(_.nonEmpty).map { a =>
          val eq = a.indexOf('=')
          require(eq > 0, s"unsupported UPDATE assignment '$a' (expected col = expr)")
          (a.substring(0, eq).trim.toLowerCase, a.substring(eq + 1).trim)
        }.toMap
        val df = spark.table(target)
        val unknown = assigns.keySet -- df.columns.map(_.toLowerCase).toSet
        require(unknown.isEmpty,
          s"UPDATE $target assigns unknown column(s): ${unknown.mkString(", ")}")
        val projected = df.select(df.columns.map { c =>
          assigns.get(c.toLowerCase) match {
            case Some(e) => fwhen(cond, fexpr(e)).otherwise(fcol(c)).as(c)
            case None => fcol(c)
          }
        }: _*)
        reRegister(spark, target, projected)
      case SelectInto(head, view, tail) =>
        spark.sql(s"$head $tail").createOrReplaceTempView(view)
      case InsertInto(view, colList, select) =>
        executeInsertView(spark, view, colList, select)
      case InsertIntoTable(target, colList, select) =>
        executeInsertCatalog(spark, target, colList, select)
      case stmt if {
        val (c, b) = splitLeadingWith(stmt, quotes)
        c.trim.nonEmpty && ci(raw"^\s*INSERT\s+INTO\b").findFirstIn(b).isDefined
      } =>
        // WITH-prefixed INSERT (the {omop_table}_merge shape): the CTEs
        // scope over the SELECT, so they prepend to it verbatim
        val (c, b) = splitLeadingWith(stmt, quotes)
        b match {
          case InsertInto(view, colList, select) =>
            executeInsertView(spark, view, colList, s"${c.trim} $select")
          case InsertIntoTable(target, colList, select) =>
            executeInsertCatalog(spark, target, colList, s"${c.trim} $select")
          case other => throw new IllegalArgumentException(
            "unsupported WITH..INSERT shape: " + other.linesIterator.take(1).mkString)
        }
      case select => last = Some(spark.sql(select))
    }
    last
  }

  /** INSERT INTO a session temp view (the reference's merge step —
    * `achilles.py` INSERT INTO the results table from each
    * #results_<id>): append into the view. A column list maps the
    * SELECT's output positionally, the INSERT contract; absent target
    * view = first write, creates it.
    */
  private def executeInsertView(spark: SparkSession, view: String,
      colList: String, select: String): Unit = {
    var df = spark.sql(select)
    Option(colList).foreach { cl =>
      val cols = cl.split(",").map(_.trim).filter(_.nonEmpty)
      require(cols.length == df.columns.length,
        s"INSERT INTO $view column list has ${cols.length} names but the " +
          s"SELECT produces ${df.columns.length} columns")
      df = df.toDF(cols.toIndexedSeq: _*)
    }
    val merged =
      if (spark.catalog.tableExists(view)) spark.table(view).unionByName(df)
      else df
    merged.createOrReplaceTempView(view)
  }

  /** INSERT INTO a CATALOG table (the `{omop_table}_merge` template's
    * final load): positional column mapping against the target schema —
    * the SQL INSERT contract — casting each position to the target type.
    * A real catalog target appends by file move ([[appendCatalogTable]]
    * — the delta alone is written, never the existing rows); a temp-view
    * target (bare or global_temp name, which [[QNamePat]] also matches)
    * keeps the union-and-re-register flow.
    */
  private def executeInsertCatalog(spark: SparkSession, target: String,
      colList: String, select: String): Unit = {
    import org.apache.spark.sql.functions.{col => fcol, lit => flit}
    val tgt = spark.table(target)
    val df = spark.sql(select)
    val mapped = Option(colList) match {
      case Some(cl) =>
        val cols = cl.split(",").map(c => cleanName(c.trim)).filter(_.nonEmpty)
        require(cols.length == df.columns.length,
          s"INSERT INTO $target column list has ${cols.length} names but " +
            s"the SELECT produces ${df.columns.length} columns")
        val byName = cols.map(_.toLowerCase).zip(df.columns).toMap
        tgt.schema.map { f =>
          byName.get(f.name.toLowerCase) match {
            case Some(src) => fcol(src).cast(f.dataType).as(f.name)
            case None => flit(null).cast(f.dataType).as(f.name)
          }
        }
      case None =>
        require(df.columns.length == tgt.schema.length,
          s"INSERT INTO $target: the SELECT produces ${df.columns.length} " +
            s"columns but the table has ${tgt.schema.length}")
        tgt.schema.zipWithIndex.map { case (f, i) =>
          fcol(df.columns(i)).cast(f.dataType).as(f.name)
        }
    }
    val delta = df.select(mapped.toSeq: _*)
    val clean = cleanName(target)
    // route on what the name resolves to: a temp or global temp view is
    // re-registered over old ∪ delta, a catalog table (dotted or bare)
    // receives the rows
    lazy val bare = spark.catalog.getTable(clean)
    if (clean.contains(".") && !clean.toLowerCase.startsWith("global_temp.")) {
      val parts = clean.split('.')
      val dbTbl = (if (parts.length == 3) s"${parts(1)}.${parts(2)}" else clean).toLowerCase
      appendCatalogTable(spark, dbTbl, delta)
    } else if (!clean.contains(".") && !bare.isTemporary)
      appendCatalogTable(spark, s"${bare.database}.${bare.name}".toLowerCase, delta)
    else reRegister(spark, target, tgt.unionByName(delta))
  }

  /** The `IF NOT EXISTS (probe-subquery) CREATE TABLE ...` conditional
    * DDL of the swap-table templates (`CONCEPT_ID_swap_create
    * .sql.jinja:4-6`): run the probe (its `sys.tables` references were
    * already mapped by [[rewriteSysCatalog]]); when it returns no row,
    * execute the guarded statement. Only CREATE TABLE is guarded in the
    * published tree — anything else refuses with the shape named.
    */
  private def executeIfNotExists(spark: SparkSession, stmt: String, q: SqlText.Quotes): Unit = {
    val m = ci(raw"^\s*IF\s+NOT\s+EXISTS\s*").findFirstMatchIn(stmt).get
    val (start, end) = SqlText(stmt, q).parenSpan(m.end)
    require(start < stmt.length, "IF NOT EXISTS needs a parenthesized probe subquery")
    require(end > start, "unbalanced parentheses in IF NOT EXISTS probe")
    val probe = stmt.substring(start + 1, end)
    val guarded = stmt.substring(end + 1).trim
    if (spark.sql(probe).limit(1).count() != 0L) return
    // a BEGIN ... END body holds `;`-separated DDL (CREATE TABLE followed
    // by its CREATE INDEX statements — the pk-swap create shape); a bare
    // body is a single CREATE TABLE
    val beginM = ci(raw"(?s)^\s*BEGIN\b(.*)\bEND\s*$$").findFirstMatchIn(guarded)
    val inner = beginM.map(_.group(1)).getOrElse(guarded)
    SqlText(inner, q).split(';').map(_.trim).filter(_.nonEmpty).foreach {
      case st if ci(raw"^\s*CREATE\s+TABLE\b").findFirstIn(st).isDefined =>
        executeCreateTable(spark, st, q)
      case st if ci(raw"^\s*CREATE\s+(?:UNIQUE\s+|CLUSTERED\s+)?INDEX\b").findFirstIn(st).isDefined =>
        () // no Spark analogue; the reference's BigQuery dialect skips too
      case st => throw new IllegalArgumentException(
        "unsupported IF NOT EXISTS shape (the published templates guard " +
          "CREATE TABLE / CREATE INDEX; got: " +
          st.linesIterator.take(1).mkString + ")")
    }
  }

  /** `CREATE TABLE [cat].[schema].[t] (col type, ...)` — the swap-table
    * DDL statement class. T-SQL column types map exactly as SqlRender's
    * Spark dialect renders them (varchar -> STRING, integer -> INT, ...);
    * an unknown type refuses loudly. The table is created EMPTY as a
    * managed catalog table (the location-cleanup discipline of
    * [[replaceCatalogTable]]).
    */
  private def executeCreateTable(spark: SparkSession, stmt: String, q: SqlText.Quotes): Unit = {
    // an optional trailing CLUSTER BY (the BigQuery dialect's data-layout
    // clause, `OMOPCDM_bigquery_5.4_ddl.sql.jinja`) is RECORDED as table
    // metadata — writes through the bridge then keep the clustered order
    val m = ci(raw"(?s)^\s*CREATE\s+TABLE\s+($QNamePat)\s*\((.*)\)\s*(?:CLUSTER\s+BY\s+([\w\s,`]+?))?\s*$$")
      .findFirstMatchIn(stmt)
      .getOrElse(throw new IllegalArgumentException(
        "unsupported CREATE TABLE shape (expected: CREATE TABLE <name> (col type, ...) [CLUSTER BY cols])"))
    val name = m.group(1)
    val clusterKeys = Option(m.group(3)).map(
      _.split(',').toSeq.map(c => cleanName(c.trim)).filter(_.nonEmpty))
    val cols = SqlText(m.group(2), q).split(',').map(_.trim).filter(_.nonEmpty).map { c =>
      // a trailing NULL / NOT NULL nullability marker is accepted and
      // dropped: Spark parquet tables are nullable (the DQD battery is
      // the enforcement analogue, same rationale as constraints)
      // a column name may be backtick-quoted (translated brackets) or
      // double-quoted (the CDM DDL's reserved-word "offset")
      val cm = ci(raw"""^(`\w+`|"\w+"|\w+)\s+(\w+(?:\s*\(\s*(?:[\d,\s]+|MAX)\s*\))?)\s*(?:NOT\s+NULL|NULL)?\s*$$""")
        .findFirstMatchIn(c)
        .getOrElse(throw new IllegalArgumentException(
          s"unsupported CREATE TABLE column definition '$c' (expected: name type [NOT NULL])"))
      val ty = cm.group(2).replaceAll(raw"\s+", "").toUpperCase match {
        case t if t.startsWith("VARCHAR") || t.startsWith("NVARCHAR") => "STRING"
        case "STRING" => "STRING" // the GoogleSQL type name
        case "INTEGER" | "INT" => "INT"
        case "BIGINT" => "BIGINT"
        case "FLOAT" => "DOUBLE"
        case "DOUBLE" => "DOUBLE"
        case "DATE" => "DATE"
        case "DATETIME" | "DATETIME2" | "TIMESTAMP" => "TIMESTAMP"
        case other => throw new IllegalArgumentException(
          s"unsupported CREATE TABLE column type '$other' (subset: VARCHAR, " +
            "STRING, INTEGER, BIGINT, FLOAT, DOUBLE, DATE, DATETIME)")
      }
      s"${cleanName(cm.group(1)).replace("\"", "")} $ty"
    }
    // an empty CREATE needs NO Spark job: emit the native catalog DDL
    // directly (the tmp-parquet materialize-and-swap path exists only for
    // rewrites that READ the table they replace — the published CDM DDL's
    // 39 creates each cost three jobs through it, ~14 s of pure overhead
    // in the sf0.1 bench)
    val parts = cleanName(name).split('.')
    val dbTbl = (if (parts.length == 3) s"${parts(1)}.${parts(2)}"
      else cleanName(name)).toLowerCase
    val db = dbTbl.split('.').head
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    // SQL Server raises on CREATE TABLE over an existing object and
    // leaves the data intact — an unguarded CREATE must NOT act as a
    // destructive replace (r15 ADVICE). The published scripts that mean
    // replace say so: DROP TABLE IF EXISTS / IF NOT EXISTS guards /
    // CREATE OR REPLACE all route around this check.
    require(!spark.catalog.tableExists(dbTbl),
      s"CREATE TABLE $dbTbl: table already exists (SQL Server raises here; " +
        "the published templates DROP or guard first)")
    // a LOCATION left by a previous JVM whose in-memory catalog forgot
    // the entry would fail the create — clear it (the r15 trap; the
    // catalog-existence check above still protects live tables)
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + s"/$db.db/${dbTbl.split('.').last}")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    val props = clusterKeys.map(k =>
      s" TBLPROPERTIES ('graft.cluster_by' = '${k.mkString(",")}')").getOrElse("")
    spark.sql(s"CREATE TABLE $dbTbl (${cols.mkString(", ")}) USING parquet$props")
  }

  /** The GoogleSQL CTAS-replace — `CREATE OR REPLACE TABLE t [LIKE t2]
    * AS ( select )` (the bigquery tree's atomic-merge statement, the S11
    * semantics): run the select, align its output to the LIKE template's
    * schema BY NAME when one is given (GoogleSQL enforces the kept
    * schema), and atomically replace the catalog table. The select may
    * read the replaced table itself (the vocabulary preserve branch) —
    * the materialize-then-swap protocol makes that safe.
    */
  private def executeCreateOrReplace(spark: SparkSession, stmt: String,
      q: SqlText.Quotes): Unit = {
    import org.apache.spark.sql.functions.{col => fcol}
    val m = ci(raw"(?s)^\s*CREATE\s+OR\s+REPLACE\s+TABLE\s+($QNamePat)\s*(?:LIKE\s+($QNamePat)\s*)?AS\s+(.+)$$")
      .findFirstMatchIn(stmt)
      .getOrElse(throw new IllegalArgumentException(
        "unsupported CREATE OR REPLACE TABLE shape (expected: CREATE OR " +
          "REPLACE TABLE <t> [LIKE <t2>] AS ( select ) or AS select)"))
    // the select may be parenthesized (`AS ( .. )`, the apply-event form)
    // or bare (`AS SELECT ..`, the upload-insert form) — strip one outer
    // paren pair only when it closes at the end of the statement
    val bodyRaw = m.group(3).trim
    val body =
      if (bodyRaw.startsWith("(")) {
        val (_, closeAt) = SqlText(bodyRaw, q).parenSpan(0)
        if (closeAt == bodyRaw.length - 1) bodyRaw.substring(1, closeAt) else bodyRaw
      } else bodyRaw
    val df = spark.sql(body)
    val aligned = Option(m.group(2)) match {
      case Some(like) =>
        val tmpl = spark.table(like).schema
        val have = df.columns.map(_.toLowerCase).toSet
        val missing = tmpl.map(_.name.toLowerCase).filterNot(have)
        require(missing.isEmpty,
          s"CREATE OR REPLACE ... LIKE $like: the select lacks column(s) ${missing.mkString(", ")}")
        df.select(tmpl.map(f => fcol(f.name).cast(f.dataType).as(f.name)): _*)
      case None => df
    }
    replaceCatalogTable(spark, m.group(1), aligned)
  }

  /** The inverse guard — `IF EXISTS (probe) DROP TABLE <t>` (the
    * `{omop_work}_drop_table.sql.jinja` shape): run the probe; when it
    * returns a row, drop the guarded table.
    */
  private def executeIfExists(spark: SparkSession, stmt: String, q: SqlText.Quotes): Unit = {
    val m = ci(raw"^\s*IF\s+EXISTS\s*").findFirstMatchIn(stmt).get
    val (start, end) = SqlText(stmt, q).parenSpan(m.end)
    require(start < stmt.length, "IF EXISTS needs a parenthesized probe subquery")
    require(end > start, "unbalanced parentheses in IF EXISTS probe")
    val probe = stmt.substring(start + 1, end)
    val guarded = stmt.substring(end + 1).trim
    val dm = ci(raw"^\s*DROP\s+TABLE\s+(\S+)\s*$$").findFirstMatchIn(guarded)
      .getOrElse(throw new IllegalArgumentException(
        "unsupported IF EXISTS shape (the published templates guard DROP " +
          "TABLE; got: " + guarded.linesIterator.take(1).mkString + ")"))
    if (spark.sql(probe).limit(1).count() > 0L) dropAnyTable(spark, dm.group(1))
  }

  /** Map SQL Server catalog-introspection references onto the Spark
    * catalog (the `all_work_table_names.sql.jinja` /
    * `CONCEPT_ID_swap_create.sql.jinja` probe shape): when a statement
    * references `sys.tables` / `sys.schemas`, snapshot the session
    * catalog into two temp views shaped like the sys views the templates
    * read — `name` + `schema_id` — and rewrite `schema_name(x)` to the
    * identity (the snapshot carries the schema NAME in `schema_id`,
    * collapsing the id->name indirection Spark does not have). Bounded
    * metadata: one catalog listing per statement that asks.
    */
  /** Map GoogleSQL `<dataset>.INFORMATION_SCHEMA.COLUMNS` references (the
    * bigquery `all_work_table_names.sql.jinja` listing) onto a snapshot
    * temp view of the Spark catalog's (table_name, column_name) pairs for
    * that database — the same bounded-metadata discipline as the
    * `sys.tables` mapping below.
    */
  private def rewriteInfoSchema(spark: SparkSession, stmt: String, q: SqlText.Quotes): String = {
    val ref = ci(raw"`?(\w+)`?\.`?INFORMATION_SCHEMA`?\.`?COLUMNS`?")
    SqlText(stmt, q).mapCode(ref.replaceAllIn(_, m => {
      import spark.implicits._
      val db = m.group(1).toLowerCase
      val snap = s"info_schema_columns_${db}_snap"
      val rows = spark.catalog.listTables(db).collect().toSeq
        .filter(_.tableType != "TEMPORARY")
        .flatMap(t => spark.table(s"$db.${t.name}").schema.fields
          .map(f => (t.name, f.name)))
      rows.toDF("table_name", "column_name").createOrReplaceTempView(snap)
      snap
    }))
  }

  private def rewriteSysCatalog(spark: SparkSession, stmt: String, q: SqlText.Quotes): String = {
    if (ci(raw"\bsys\.(tables|schemas)\b").findFirstIn(stmt).isEmpty) stmt
    else {
      import spark.implicits._
      val dbsAll = spark.catalog.listDatabases().collect().map(_.name)
      // the published probes compare the schema against a QUOTED literal
      // (`s.name = 'db'`); snapshotting every database makes each probe
      // O(catalog) — dozens of listTables calls once a session has run
      // many entries (the r16 in-bench finding: 1.3 s standalone vs ~6 s
      // mid-bench). Scope the snapshot to databases named in an EQUALITY
      // comparison against a SCHEMA-name expression — a subset snapshot
      // is only correct when every db the statement can match is
      // included, which ONLY quoted-equality schema probes guarantee.
      // The check is INVERTED (ADVICE r17): scoping applies only when
      // EVERY schema-name predicate in the statement is a quoted
      // equality — any other operator (<>, !=, LIKE, NOT LIKE, IN,
      // NOT IN, BETWEEN, IS, <, >, <=, >=) or a non-literal comparand
      // disables it and takes the full listing (a SUPERSET is always
      // correct). And only SCHEMA-name expressions feed the literal set:
      // `schema_name(..)` plus `<alias>.name` for aliases bound to
      // sys.schemas in THIS statement — a table-name predicate like
      // `t.name = 'person'` must not scope the database list just
      // because a database shares the literal's name.
      val reserved = Set("on", "where", "join", "inner", "left", "right",
        "full", "cross", "group", "order", "as", "union", "and", "or")
      val schemaAliases = ci(raw"\bsys\.schemas\b\s+(?:AS\s+)?([A-Za-z_]\w*)")
        .findAllMatchIn(stmt).map(_.group(1).toLowerCase)
        .filterNot(reserved).toSet
      val nameExpr =
        if (schemaAliases.isEmpty) raw"schema_name\s*\([^)]*\)"
        else {
          val alts = schemaAliases.map(java.util.regex.Pattern.quote).mkString("|")
          raw"(?:$alts)\.name\b|schema_name\s*\([^)]*\)"
        }
      // any comparison operator that can follow a name expression; the
      // quoted-equality counts below must account for EVERY predicate
      // occurrence or scoping is off
      val predOp = raw"(?:<>|!=|<=|>=|=|<|>|\bNOT\s+LIKE\b|\bLIKE\b|\bNOT\s+IN\b|\bIN\b|\bBETWEEN\b|\bIS\b)"
      val eqFwd = ci(raw"(?:$nameExpr)\s*=\s*'([^']*)'")
      val eqRev = ci(raw"'([^']*)'\s*=\s*(?:$nameExpr)")
      val fwdPreds = ci(raw"(?:$nameExpr)\s*$predOp").findAllMatchIn(stmt).length
      val revPreds = ci(raw"'[^']*'\s*$predOp\s*(?:$nameExpr)")
        .findAllMatchIn(stmt).length
      val eqFwdN = eqFwd.findAllMatchIn(stmt).length
      val eqRevN = eqRev.findAllMatchIn(stmt).length
      // scoping-disable guards (r19, ADVICE): the predicate counters see
      // only BARE `<alias>.name <op>` shapes, so (a) an alias REBOUND to
      // another relation in a different scope (its `.name` equalities
      // would then wrongly count as schema predicates) and (b) a name
      // expression wrapped in a function call or spliced into a concat
      // (invisible to both counters) each disable scoping outright —
      // a false positive here merely takes the full listing, which is
      // always correct
      val aliasRebound = schemaAliases.exists { a =>
        val q = java.util.regex.Pattern.quote(a)
        // more than one sys.schemas binding of the same alias, or any
        // binding-shaped occurrence after a relation that is NOT
        // sys.schemas (FROM/JOIN/comma-list; select-list `expr AS x`
        // collisions only over-disable)
        ci(raw"\bsys\.schemas\b\s+(?:AS\s+)?$q\b").findAllMatchIn(stmt).length > 1 ||
          ci(raw"(?:\bFROM\b|\bJOIN\b|,)\s*(?!sys\.schemas\b)[\w.`\[\]]+\s+(?:AS\s+)?$q\b(?!\s*\.)")
            .findFirstIn(stmt).nonEmpty
      }
      // keyword-parenthesized predicates (`AND (s.name = 'x')`) are not
      // function wraps — only a non-keyword identifier before the paren is
      val nameWrapped =
        ci(raw"\b(?!(?:AND|OR|NOT|WHERE|ON|WHEN|THEN|ELSE|CASE|SELECT|IN|EXISTS|IS)\b)[A-Za-z_]\w*\s*\(\s*(?:$nameExpr)")
          .findFirstIn(stmt).nonEmpty ||
          ci(raw"(?:$nameExpr)\s*(?:\|\||\+)").findFirstIn(stmt).nonEmpty ||
          ci(raw"(?:\|\||\+)\s*(?:$nameExpr)").findFirstIn(stmt).nonEmpty
      val allEq = fwdPreds == eqFwdN && revPreds == eqRevN &&
        !aliasRebound && !nameWrapped
      val eqLits = (eqFwd.findAllMatchIn(stmt) ++ eqRev.findAllMatchIn(stmt))
        .map(_.group(1).toLowerCase).toSet
      val scoped = dbsAll.filter(db => eqLits.contains(db.toLowerCase))
      val dbs = if (allEq && scoped.nonEmpty) scoped else dbsAll
      val tables = dbs.flatMap { db =>
        spark.catalog.listTables(db).collect()
          .filter(_.tableType != "TEMPORARY").map(t => (t.name, db))
      }.toSeq
      tables.toDF("name", "schema_id").createOrReplaceTempView("sys_tables_snap")
      dbs.toSeq.map(db => (db, db)).toDF("schema_id", "name")
        .createOrReplaceTempView("sys_schemas_snap")
      SqlText(stmt, q).mapCode { code =>
        val s1 = ci(raw"\bsys\.tables\b").replaceAllIn(code, "sys_tables_snap")
        val s2 = ci(raw"\bsys\.schemas\b").replaceAllIn(s1, "sys_schemas_snap")
        ci(raw"\bSCHEMA_NAME\s*\(").replaceAllIn(s2, "(")
      }
    }
  }

  /** Remove `--` line comments AND `/* */` block comments OUTSIDE string
    * literals, in ONE quote-aware pass. Must run BEFORE any structural
    * pass: a single apostrophe inside a template comment ("-- don't ...",
    * a header block with "shouldn't") would otherwise flip the quote
    * tracking of the `;` splitter and the translate rewrites, swallowing
    * a real statement boundary or mangling the comment (ADVICE r11/r13).
    * The two forms must strip TOGETHER — sequential passes mis-nest (a
    * `--` inside a block comment line-stripped first eats the block's
    * closing marker; a line comment containing a block opener opens a
    * phantom block). Block comments nest, the T-SQL rule; a `;` or a leading
    * keyword inside a block comment is invisible to the splitter and the
    * ^-anchored statement dispatch, so a template OPENING with its
    * parameter-manifest header dispatches on its first real statement.
    * Comment markers INSIDE quotes are content and survive ([[SqlText]]
    * finds comments and literals in the same pass). A block comment is
    * replaced by one space so it can never fuse two tokens.
    */
  private def stripComments(s: String, q: SqlText.Quotes): String = {
    val text = SqlText(s, q)
    // T-SQL raises an error on an unterminated block comment; silently
    // swallowing the rest of the script could hand execute() an earlier
    // SELECT as the "result" of a malformed script
    require(!text.unterminatedComment,
      "unterminated block comment in OHDSI SQL script (missing closing marker)")
    text.withoutComments
  }

  /** The strftime subset the published BQ dashboard template uses
    * (`FORMAT_TIMESTAMP("%Y-%m-%d %T", ...)`), mapped to Spark's Java
    * datetime pattern; an unknown `%` code refuses with the code named.
    */
  private def strftimeToJava(fmt: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val ch = fmt.charAt(i)
      if (ch == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => out ++= "yyyy"
          case 'm' => out ++= "MM"
          case 'd' => out ++= "dd"
          case 'H' => out ++= "HH"
          case 'M' => out ++= "mm"
          case 'S' => out ++= "ss"
          case 'T' => out ++= "HH:mm:ss"
          case other => throw new IllegalArgumentException(
            s"unsupported FORMAT_TIMESTAMP code '%$other' (subset: %Y %m %d %H %M %S %T)")
        }
        i += 2
      } else { out += ch; i += 1 }
    }
    out.result()
  }

  /** The GoogleSQL (BigQuery-dialect) pre-pass — the reference's PRIMARY
    * backend writes its templates in this dialect
    * (`bigquery/templates/`). The surface those templates actually use
    * beyond portable SQL is tiny: whole-path backquoting
    * (`` `ds.table` `` quotes the dotted path as ONE identifier — split
    * into per-part quotes, the Spark meaning), the INT64/FLOAT64/DATETIME
    * type names, and `CURRENT_DATETIME()`. `IFNULL`, `CONCAT`,
    * `STRING_AGG`, window functions and `SELECT * EXCEPT(c)` are native
    * Spark SQL already. The rewrites run only on the code between
    * GoogleSQL literals ([[SqlText.GoogleSql]]), so a literal 'DATETIME'
    * value or an `@` inside a quoted string is never rewritten as a type
    * name or a bind parameter.
    */
  def translateBigQuery(sql: String): String = {
    // FORMAT_TIMESTAMP consumes its own quoted pattern — rewrite BEFORE
    // the quote-aware pass (the pattern itself must translate, not be
    // shielded as string content)
    var s = ci(raw"""\bFORMAT_TIMESTAMP\s*\(\s*("[^"]*"|'[^']*')\s*,\s*((?:[^(),]|\((?:[^()]*)\))+)\s*\)""")
      .replaceAllIn(sql, m => {
        val fmt = m.group(1).substring(1, m.group(1).length - 1)
        java.util.regex.Matcher.quoteReplacement(
          s"date_format(${m.group(2).trim}, '${strftimeToJava(fmt)}')")
      })
    // the rewrite's value-argument regex accepts ONE level of nesting; a
    // deeper call (FORMAT_TIMESTAMP(fmt, f(g(x)))) slips through unmatched
    // and would error downstream WITHOUT naming the construct — refuse it
    // loudly here instead (ADVICE r16). The residual scan reads the code
    // only (ADVICE r17): a string LITERAL containing the text
    // "FORMAT_TIMESTAMP(" is content, not code, and must not trip it.
    val code = SqlText(s, SqlText.GoogleSql)
    require(ci(raw"\bFORMAT_TIMESTAMP\s*\(").findFirstIn(code.masked).isEmpty,
      "unsupported FORMAT_TIMESTAMP shape (value argument nested deeper " +
        "than one call level) — flatten the expression or extend the rewrite")
    // the GoogleSQL DATETIME(y,m,d,...) CONSTRUCTOR would be silently
    // corrupted by the type-name rewrite below — refuse it loudly (no
    // published template uses it; this guards the assumption)
    require(ci(raw"\bDATETIME\s*\(").findFirstIn(code.masked).isEmpty,
      "unsupported GoogleSQL DATETIME(...) constructor — the BigQuery " +
        "pre-pass maps only the DATETIME type name")
    s = code.mapCode { seg =>
      var x = raw"`([\w.]+)`".r.replaceAllIn(seg, m =>
        java.util.regex.Matcher.quoteReplacement(
          m.group(1).split('.').map(p => s"`$p`").mkString(".")))
      x = ci(raw"\bCURRENT_DATETIME\s*\(\s*\)").replaceAllIn(x, "current_timestamp()")
      x = ci(raw"\bINT64\b").replaceAllIn(x, "BIGINT")
      x = ci(raw"\bFLOAT64\b").replaceAllIn(x, "DOUBLE")
      x = ci(raw"\bDATETIME\b").replaceAllIn(x, "TIMESTAMP")
      // the GoogleSQL DATE(y, m, d) constructor (the merge templates'
      // valid_end_date) — numeric args only, so the DATE column type
      // never matches
      x = ci(raw"\bDATE\s*\(\s*(\d+)\s*,\s*(\d+)\s*,\s*(\d+)\s*\)")
        .replaceAllIn(x, "make_date($1, $2, $3)")
      // GoogleSQL named query parameters are `@name`; the bridge's bind
      // machinery is `:name` (substituteBinds) — same execute-time flow
      x = raw"@(\w+)".r.replaceAllIn(x, ":$1")
      x
    }
    // GoogleSQL allows an UNORDERED ROW_NUMBER window (the dedup CTE in
    // `{omop_table}_merge.sql.jinja:115-138`) and picks an arbitrary row;
    // Spark requires an ordering. Ordering by the partition keys
    // themselves is the faithful mapping: within a partition it is as
    // arbitrary as BigQuery's pick, and deterministic where the gated
    // fixtures make partitions unambiguous. Applied ONLY to ROW_NUMBER —
    // adding ORDER BY to an aggregate window (the STRING_AGG) would
    // change its frame to a running one.
    s = ci(raw"ROW_NUMBER\s*\(\s*\)\s*OVER\s*\(\s*(PARTITION\s+BY\s+[^()]*?)\s*\)")
      .replaceAllIn(s, m => {
        val part = m.group(1)
        if (ci(raw"\bORDER\s+BY\b").findFirstIn(part).isDefined)
          java.util.regex.Matcher.quoteReplacement(m.matched)
        else {
          val keys = ci(raw"^PARTITION\s+BY\s+").replaceFirstIn(part, "")
          java.util.regex.Matcher.quoteReplacement(
            s"ROW_NUMBER() OVER ($part ORDER BY $keys)")
        }
      })
    s
  }

  /** The statement list `execute` runs: rendered, comment-stripped
    * ([[stripComments]] — quote tracking must only ever see real
    * SQL), split on `;` OUTSIDE string literals (the heel warning
    * messages carry semicolons inside their quotes), translated per
    * statement (so `TOP n` becomes that statement's `LIMIT`); every pass
    * scans with the script's quote rule `quotes`.
    */
  def translateScript(sql: String, params: Map[String, String] = Map.empty,
      binds: Map[String, String] = Map.empty,
      sqlRender: Boolean = true,
      quotes: SqlText.Quotes = SqlText.TSql): Seq[String] = {
    // the reference runs its dialect-NATIVE templates (the DDL tree)
    // through Jinja + the warehouse driver only — no SqlRender pass — and
    // T-SQL variables (`DECLARE @x`) would read as unbound SqlRender
    // params; sqlRender=false mirrors that flow
    val rendered = if (sqlRender) render(sql, params) else sql
    splitStatements(substituteBinds(stripComments(rendered, quotes), binds, quotes), quotes)
      .map(_.trim).filter(_.nonEmpty).map(translate(_, quotes))
  }

  /** Split a script on `;` OUTSIDE string literals AND outside
    * `BEGIN ... END` blocks — a guarded DDL block
    * (`{primary_key_column}_swap_create.sql.jinja:5-25`: `IF NOT EXISTS
    * (...) BEGIN CREATE TABLE ...; CREATE INDEX ...; END`) is ONE
    * statement whose inner semicolons must not sever the guard from its
    * body. `CASE` also pairs with `END` (the T-SQL shared terminator), so
    * both openers count — a CASE expression can never contain a
    * top-level `;`, which keeps the accounting safe.
    */
  private def splitStatements(s: String, q: SqlText.Quotes): Seq[String] = {
    val text = SqlText(s, q)
    var blocks = 0
    text.cutAt(s.indices.filter(i => text.isCode(i) && {
      if (text.wordAt(i, "BEGIN") > 0 || text.wordAt(i, "CASE") > 0) blocks += 1
      else if (text.wordAt(i, "END") > 0) blocks -= 1
      s.charAt(i) == ';' && blocks == 0
    }))
  }
}

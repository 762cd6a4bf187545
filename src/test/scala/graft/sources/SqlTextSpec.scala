package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** The one literal, comment and bracket scan under the SQL bridge and
  * JinjaLite: both quote rules, and each primitive the passes are built on.
  */
class SqlTextSpec extends AnyFunSuite {
  private def tsql(s: String) = SqlText(s, SqlText.TSql)
  private def gsql(s: String) = SqlText(s, SqlText.GoogleSql)

  test("T-SQL: only ' quotes, a doubled '' stays inside the literal") {
    assert(tsql("a, 'x, ''y'', z', \"b, c\"").split(',').map(_.trim) ===
      Seq("a", "'x, ''y'', z'", "\"b", "c\""))
  }

  test("GoogleSQL/Jinja: both quotes, each closed by its own kind, backslash and doubled escapes") {
    assert(gsql("""'it"s', "it's", 'a\'b,c', 'd''e,f', g""").split(',').map(_.trim) ===
      Seq("'it\"s'", "\"it's\"", """'a\'b,c'""", "'d''e,f'", "g"))
  }

  test("split cuts at depth 0 only; close and parenSpan match brackets outside literals") {
    val t = tsql("f(a, ')'), [b, c], d")
    assert(t.split(',').map(_.trim) === Seq("f(a, ')')", "[b, c]", "d"))
    assert(t.parenSpan(0) === ((1, 8)))
    assert(t.close(11) === 16)
    assert(tsql("x ')(' (").parenSpan(0) === ((7, -1)))
    assert(tsql("no parens").parenSpan(0) === ((9, -1)))
  }

  test("keywords: top-level code only, words split by any whitespace, word boundaries") {
    val t = tsql("UPDATE t SET a = 'WHERE' , b = (SELECT x WHERE y) WHERE\n  z = 1 NOWHERE")
    assert(t.keywords("WHERE").map(_._1) === Seq(50))
    assert(tsql("x WHEN  MATCHED\nTHEN y").keywords("when matched then") === Seq((2, 20)))
  }

  test("comments: an apostrophe in a comment opens no literal; markers in literals are content") {
    val t = tsql("a -- don't\n'--x' /* it's /* nested */ */b")
    assert(t.withoutComments === "a \n'--x'  b")
    assert(!t.unterminatedComment)
    assert(tsql("a /* open").unterminatedComment)
  }

  test("mapCode and masked rewrite code only; unmask restores moved literals") {
    val t = tsql("x 'x' x ''")
    assert(t.mapCode(_.replace("x", "y")) === "y 'x' y ''")
    val swapped = raw"(\S+) (\S+) (\S+) (\S+)".r.replaceAllIn(t.masked, "$4 $3 $2 $1")
    assert(!swapped.contains("x'") && t.unmask(swapped) === "'' x 'x' x")
  }
}

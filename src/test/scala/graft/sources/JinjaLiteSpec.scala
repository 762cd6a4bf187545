package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Jinja2-subset renderer semantics (reference renders user `.sql.jinja`
  * through a full Jinja2 environment, `bigquery/etl.py:325-345`; the
  * constructs covered here are the ones the reference's own templates
  * use).
  */
class JinjaLiteSpec extends AnyFunSuite {

  private val vars = Map(
    "project_raw" -> "myraw",
    "dataset_work" -> "work",
    "dataset_omop" -> "omop",
    "omop_table" -> "person")

  test("plain variable substitution, whitespace-tolerant") {
    assert(JinjaLite.render("SELECT * FROM {{project_raw}}_t", vars) ==
      "SELECT * FROM myraw_t")
    assert(JinjaLite.render("{{  omop_table  }}_id", vars) == "person_id")
  }

  test("comments are stripped") {
    assert(JinjaLite.render("a {# not rendered #}b", vars) == "a b")
  }

  test("if/elif/else with == and truthiness") {
    val t = "{% if omop_table == 'person' %}P{% elif omop_table == 'death' %}D{% else %}X{% endif %}"
    assert(JinjaLite.render(t, vars) == "P")
    assert(JinjaLite.render(t, vars + ("omop_table" -> "death")) == "D")
    assert(JinjaLite.render(t, vars + ("omop_table" -> "visit")) == "X")
    assert(JinjaLite.render("{% if flag %}y{% else %}n{% endif %}",
      Map("flag" -> "")) == "n")
    assert(JinjaLite.render("{% if not flag %}y{% endif %}", Map("flag" -> "")) == "y")
  }

  test("for loop over caller-supplied list, loop variable shadows scalars") {
    val out = JinjaLite.render(
      "{% for c in cols %}[{{ c }}]{% endfor %}",
      Map("c" -> "outer"),
      Map("cols" -> Seq("a", "b")))
    assert(out == "[a][b]")
  }

  test("loop.first comma-separator idiom and loop.index") {
    val t = "{% for c in cols %}{% if not loop.first %},{% endif %}{{ c }}{{ loop.index }}{% endfor %}"
    val out = JinjaLite.render(t, Map.empty, Map("cols" -> Seq("x", "y", "z")))
    assert(out == "x1,y2,z3")
  }

  test("whitespace control trims like Jinja2") {
    val t = "SELECT\n  {%- if flag %} a {%- endif %}\nFROM t"
    assert(JinjaLite.render(t, Map("flag" -> "1")) == "SELECT a\nFROM t")
    // {{- -}} variant
    assert(JinjaLite.render("x  {{- v -}}  y", Map("v" -> "Z")) == "xZy")
  }

  test("nested blocks") {
    val t = "{% for c in cols %}{% if c == 'b' %}<{{ c }}>{% else %}{{ c }}{% endif %}{% endfor %}"
    val out = JinjaLite.render(t, Map.empty, Map("cols" -> Seq("a", "b", "c")))
    assert(out == "a<b>c")
  }

  test("unsupported constructs fail loudly with the tag named") {
    val e1 = intercept[RuntimeException] {
      JinjaLite.render("{% macro x() %}{% endmacro %}", vars)
    }
    assert(e1.getMessage.contains("unsupported Jinja construct"))
    assert(e1.getMessage.contains("macro"))
    val e2 = intercept[RuntimeException] {
      JinjaLite.render("{{ x | upper }}", Map("x" -> "a"))
    }
    assert(e2.getMessage.contains("unsupported Jinja construct"))
  }

  test("boolean condition grammar: or/and/not, parens, endswith, literal lists, not-in, |length") {
    def r(t: String, lists: Map[String, Seq[String]] = Map.empty,
        dicts: Map[String, Seq[(String, String)]] = Map.empty) =
      JinjaLite.render(t, Map("tbl" -> "measurement", "flag" -> ""), lists, dicts)
    // parenthesized or/and with endswith and a literal list (the omop-merge shape)
    assert(r("{% if tbl == 'vocabulary' or (tbl == \"measurement\" and ('value_as_concept_id' in [\"value_as_concept_id\", \"unit_concept_id\"])) %}Y{% endif %}") === "Y")
    assert(r("{% for c in cols %}{% if c.endswith(\"_source_concept_id\") %}[{{c}}]{% endif %}{% endfor %}",
      lists = Map("cols" -> Seq("a_source_concept_id", "b_concept_id"))) === "[a_source_concept_id]")
    // not over a parenthesized group; truthiness of an empty scalar is false
    assert(r("{% if not (flag and tbl == 'measurement') %}N{% endif %}") === "N")
    // infix `not in` over a literal list and over a dict's keys
    assert(r("{% if tbl not in ['person', 'death'] %}K{% endif %}") === "K")
    assert(r("{% if 'person' in evts %}P{% endif %}{% if 'nope' not in evts %}Q{% endif %}",
      dicts = Map("evts" -> Seq("person" -> "x"))) === "PQ")
    // keys()|length comparison: dict size and the legacy list convention
    assert(r("{% if evts.keys()|length > 0 %}D{% endif %}",
      dicts = Map("evts" -> Seq("a" -> "b"))) === "D")
    assert(r("{% if evts.keys()|length > 0 %}D{% else %}E{% endif %}",
      lists = Map("evts" -> Seq.empty)) === "E")
  }

  test("dict and record bindings: items pairs, dict indexing, record attrs") {
    val t1 = JinjaLite.render(
      "{% for (t, k) in et.items() %}{{t}}->{{k}};{% endfor %}",
      Map.empty, dicts = Map("et" -> Seq("person" -> "person_id", "obs" -> "observation_id")))
    assert(t1 === "person->person_id;obs->observation_id;")
    // dict indexed by a loop variable's VALUE (the apply-event-columns shape)
    val t2 = JinjaLite.render(
      "{% for c in ev %}{{ev[c]}} {% endfor %}",
      Map.empty, dicts = Map("ev" -> Seq("fact_id_1" -> "domain_1", "fact_id_2" -> "domain_2")))
    assert(t2 === "domain_1 domain_2 ")
    // record attribute + ["key"] access and attr conditions (the sample-query shape)
    val recs = Seq(
      Map("cdmFieldName" -> "id", "isPrimaryKey" -> "Yes"),
      Map("cdmFieldName" -> "name", "isPrimaryKey" -> "No"))
    val t3 = JinjaLite.render(
      "{% for c in cols %}{% if c.isPrimaryKey == 'Yes' %}PK:{{c[\"cdmFieldName\"]}}{% else %}{{c.cdmFieldName}}{% endif %};{% endfor %}",
      Map.empty, records = Map("cols" -> recs))
    assert(t3 === "PK:id;name;")
  }

  test("set / namespace / indexing / lower / 'and' conditions (the pk-swap grammar)") {
    // block-scoped set + list indexing by loop.index0
    val t1 = JinjaLite.render(
      "{% for f in files %}{% set u = uploads[loop.index0] %}{{f}}:{{u}};{% endfor %}",
      Map.empty, Map("files" -> Seq("a", "b"), "uploads" -> Seq("u1", "u2")))
    assert(t1 === "a:u1;b:u2;")
    // namespace counters survive loop iterations; plain set does not leak
    val t2 = JinjaLite.render(
      "{% set ns = namespace(ci=0) %}" +
        "{% for c in cols %}ci{{ns.ci}} {% set ns.ci = ns.ci + 1 %}{% endfor %}total={{ns.ci}}",
      Map.empty, Map("cols" -> Seq("x", "y", "z")))
    assert(t2 === "ci0 ci1 ci2 total=3")
    // method call + and-joined membership conditions
    val t3 = JinjaLite.render(
      "{% for c in cols %}{% if not c in events and not c in events %}[{{c.lower()}}]{% endif %}{% endfor %}",
      Map.empty, Map("cols" -> Seq("AB", "CD"), "events" -> Seq("CD")))
    assert(t3 === "[ab]")
    // a set-bound scalar is visible to the remainder of its block
    val t4 = JinjaLite.render("{% set x = 'V' %}{{x}}{{x}}", Map.empty)
    assert(t4 === "VV")
  }

  test("undefined variables and lists are errors, not silent empties") {
    val e = intercept[RuntimeException] {
      JinjaLite.render("{{ missing }}", vars)
    }
    assert(e.getMessage.contains("undefined Jinja variable 'missing'"))
    val e2 = intercept[RuntimeException] {
      JinjaLite.render("{% for x in nope %}{{ x }}{% endfor %}", vars)
    }
    assert(e2.getMessage.contains("undefined Jinja list 'nope'"))
  }

  test("unbalanced blocks are errors") {
    val e = intercept[RuntimeException] {
      JinjaLite.render("{% if flag %}a", Map("flag" -> "1"))
    }
    assert(e.getMessage.contains("expected '{% endif %}'"))
    val e2 = intercept[RuntimeException] {
      JinjaLite.render("a{% endif %}", vars)
    }
    assert(e2.getMessage.contains("without an opening block"))
  }

  test("list-membership conditions: 'x in somelist' and the .values() form") {
    // the duplicate-rows template's guard shape (r15):
    // `{%- if not column in events.values() %}`
    val out = JinjaLite.render(
      "{% for c in cols %}{% if not c in events.values() %}[{{c}}]{% endif %}{% endfor %}",
      Map.empty,
      lists = Map("cols" -> Seq("a", "b", "c"), "events" -> Seq("b")))
    assert(out == "[a][c]")
    // positive membership, no .values()
    assert(JinjaLite.render(
      "{% if k in keep %}yes{% else %}no{% endif %}",
      Map("k" -> "x"), lists = Map("keep" -> Seq("x", "y"))) == "yes")
    // an undefined list in a membership test names itself
    val e = intercept[RuntimeException](JinjaLite.render(
      "{% if k in nope %}y{% endif %}", Map("k" -> "x"), lists = Map.empty))
    assert(e.getMessage.contains("nope"))
  }

  test("quoted-literal expressions render verbatim (the loop-separator idiom)") {
    // `{%- if not loop.first -%}{{', '}}{%- endif -%}` — the published
    // domain-check template's comma control (r15)
    assert(JinjaLite.render(
      "{% for d in ds %}{% if not loop.first %}{{ ', ' }}{% endif %}'{{d}}'{% endfor %}",
      Map.empty, lists = Map("ds" -> Seq("a", "b"))) == "'a', 'b'")
    // a filter expression still refuses by name
    val e = intercept[RuntimeException](JinjaLite.render("{{ x|upper }}", Map("x" -> "a")))
    assert(e.getMessage.contains("unsupported Jinja construct"))
  }

  test("SqlTemplates.fromFile renders the contract variables through JinjaLite") {
    val dir = java.nio.file.Files.createTempDirectory("jinja")
    val p = dir.resolve("person.sql.jinja")
    java.nio.file.Files.write(p,
      ("SELECT 1 AS {{omop_table}}_id FROM {{project_raw}}_t" +
        "{% if omop_table == 'person' %} WHERE x > 0{% endif %}").getBytes("UTF-8"))
    val sql = SqlTemplates.fromFile(p, "person", "myraw", "work", "omop")
    assert(sql == "SELECT 1 AS person_id FROM myraw_t WHERE x > 0")
    // a construct beyond the subset is a clear error naming the file
    val bad = dir.resolve("bad.sql.jinja")
    java.nio.file.Files.write(bad, "{% include 'x' %}".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      SqlTemplates.fromFile(bad, "person", "myraw", "work", "omop")
    }
    assert(e.getMessage.contains("bad.sql.jinja"))
    assert(e.getMessage.contains("unsupported Jinja construct"))
  }

  // ---- r16: dict literals in {% set %}, truthiness over attrs ----

  test("a dict literal binds via {% set %} and indexes by expression") {
    val out = JinjaLite.render(
      """{%- set types = {
        |    'integer': 'INT64',
        |    'varchar(255)': 'STRING'
        |} -%}
        |{%- for column in columns -%}
        |{{ types[column.cdmDatatype] }};
        |{%- endfor -%}""".stripMargin,
      scalars = Map.empty,
      records = Map("columns" -> Seq(
        Map("cdmDatatype" -> "integer"),
        Map("cdmDatatype" -> "varchar(255)"))))
    assert(out == "INT64;STRING;")
    val e = intercept[RuntimeException](JinjaLite.render(
      "{% set t = {'a': 'b'} %}{{ t['missing'] }}", Map.empty))
    assert(e.getMessage.contains("no key"))
  }

  test("bare truthiness resolves dotted/indexed refs; undefined names error") {
    // a namespace flag (the r15 ADVICE gap: scalars-only lookup silently
    // yielded false)
    val out = JinjaLite.render(
      "{% set ns = namespace(flag='yes') %}{% if ns.flag %}ON{% else %}OFF{% endif %}",
      Map.empty)
    assert(out == "ON")
    // a record attribute
    val out2 = JinjaLite.render(
      "{% for c in columns %}{% if c.fkTableName %}FK{% else %}--{% endif %}{% endfor %}",
      scalars = Map.empty,
      records = Map("columns" -> Seq(
        Map("fkTableName" -> "CONCEPT"), Map("fkTableName" -> ""))))
    assert(out2 == "FK--")
    // undefined bare names raise (the fail-loud contract)
    val e = intercept[RuntimeException](JinjaLite.render(
      "{% if nonexistent %}x{% endif %}", Map.empty))
    assert(e.getMessage.contains("undefined"))
  }

  test("plain-list '| length' comparison (the bq work-ddl cluster_fields guard)") {
    val out = JinjaLite.render(
      "{% if cluster_fields | length > 0 %}CLUSTER{% else %}PLAIN{% endif %}",
      scalars = Map.empty, lists = Map("cluster_fields" -> Seq("a")))
    assert(out == "CLUSTER")
    val out2 = JinjaLite.render(
      "{% if cluster_fields | length > 0 %}CLUSTER{% else %}PLAIN{% endif %}",
      scalars = Map.empty, lists = Map("cluster_fields" -> Seq.empty))
    assert(out2 == "PLAIN")
  }

  test("literal lists and '+' read both quote kinds: a comma, apostrophe or plus in a string is content") {
    val in = "{% if x in ['a,b', 'c'] %}in{% else %}out{% endif %}"
    assert(JinjaLite.render(in, Map("x" -> "a,b")) == "in")
    assert(JinjaLite.render(in, Map("x" -> "b")) == "out")
    assert(JinjaLite.render("""{% if x in ["it's", "c"] %}in{% else %}out{% endif %}""",
      Map("x" -> "it's")) == "in")
    assert(JinjaLite.render("""{% set y = "a+b" %}{{ y }}""", Map.empty) == "a+b")
    assert(JinjaLite.render("{% set n = 1 + 2 %}{{ n }}", Map.empty) == "3")
  }
}

package graft.sources

import graft.SparkSpec

/** The SqlRender-subset bridge: render semantics, dialect translation
  * rules (including the DATEDIFF argument flip), loud failures outside
  * the subset, and the multi-statement temp-view flow end-to-end.
  */
class OhdsiSqlSpec extends SparkSpec {
  import spark.implicits._

  test("render applies defaults, caller overrides, longest-name-first substitution") {
    val sql = "{DEFAULT @ab = 1}{DEFAULT @a = 2} SELECT @ab, @a, @abc"
    val out = OhdsiSql.render(sql, Map("abc" -> "3"))
    assert(out.trim === "SELECT 1, 2, 3")
    val overridden = OhdsiSql.render(sql, Map("ab" -> "9", "abc" -> "3"))
    assert(overridden.trim === "SELECT 9, 2, 3")
  }

  test("render fails loudly on unbound params and unsupported condition terms") {
    val e = intercept[IllegalArgumentException](OhdsiSql.render("SELECT @nope"))
    assert(e.getMessage.contains("@nope"))
    val c = intercept[IllegalArgumentException](
      OhdsiSql.render("{@x IN ('a')}?{SELECT 1}", Map("x" -> "a")))
    assert(c.getMessage.contains("condition term"))
  }

  test("render evaluates SqlRender conditional blocks after substitution") {
    // the published DQD template shape: a boolean flag term and a
    // rendered-value comparison, '&'-joined
    val sql = "SELECT 1{@cohort & '@run' == 'Yes'}?{ JOIN c ON x = y} FROM t"
    assert(OhdsiSql.render(sql, Map("cohort" -> "true", "run" -> "Yes"))
      === "SELECT 1 JOIN c ON x = y FROM t")
    assert(OhdsiSql.render(sql, Map("cohort" -> "false", "run" -> "Yes"))
      === "SELECT 1 FROM t")
    assert(OhdsiSql.render(sql, Map("cohort" -> "true", "run" -> "No"))
      === "SELECT 1 FROM t")
    // '|' alternatives and '!='
    assert(OhdsiSql.render("{'@a' != 'x' | false}?{K}", Map("a" -> "y")) === "K")
    // the if-else form takes the else branch whole
    assert(OhdsiSql.render("{@f}?{A}:{B}", Map("f" -> "true")) === "A")
    assert(OhdsiSql.render("{@f}?{A}:{B}", Map("f" -> "false")) === "B")
    // a conditional this subset cannot parse (nested braces) fails loudly
    val n = intercept[IllegalArgumentException](
      OhdsiSql.render("{@f}?{x {y} z}", Map("f" -> "true")))
    assert(n.getMessage.contains("conditional"))
    // a FOLLOWING conditional's condition is never consumed as an else
    // branch ('{c1}?{A} : {c2}?{B}' is two conditionals, not if-else)
    assert(OhdsiSql.render("{@f}?{A} : {@g}?{B}",
      Map("f" -> "true", "g" -> "true")) === "A : B")
  }

  test("translate types bare float literals as DOUBLE, protecting quoted strings") {
    // SqlRender target dialects type decimal literals as floats; Spark
    // would type them DECIMAL and silently fork the division semantics
    // (the r9 ohdsi_sql_dqd_check red)
    assert(OhdsiSql.translate("SELECT 1.0*a/b FROM t")
      === "SELECT CAST(1.0 AS DOUBLE)*a/b FROM t")
    assert(OhdsiSql.translate("SELECT .5 + 2e3 + 1.5e-2 FROM t")
      === "SELECT CAST(.5 AS DOUBLE) + CAST(2e3 AS DOUBLE) + CAST(1.5e-2 AS DOUBLE) FROM t")
    // integers, identifiers, and quoted strings are untouched
    assert(OhdsiSql.translate("SELECT 10, tbl.col, 'v1.5 & more' FROM t LIMIT 5")
      === "SELECT 10, tbl.col, 'v1.5 & more' FROM t LIMIT 5")
  }

  test("translate covers the r10 dialect additions") {
    assert(OhdsiSql.translate("SELECT CONVERT(VARCHAR(10), a), CONVERT(BIGINT, b) FROM t")
      === "SELECT CAST(a AS STRING), CAST(b AS BIGINT) FROM t")
    assert(OhdsiSql.translate("SELECT VAR(x) FROM t WITH (NOLOCK)")
      === "SELECT var_samp(x) FROM t ")
    assert(OhdsiSql.translate("SELECT [person_id] FROM [person]")
      === "SELECT `person_id` FROM `person`")
    assert(OhdsiSql.translate("SELECT DATEADD(week, 2, d) FROM t")
      === "SELECT date_add(d, 7 * (2)) FROM t")
    val e = intercept[IllegalArgumentException](
      OhdsiSql.translate("SELECT CONVERT(MONEY, a) FROM t"))
    assert(e.getMessage.contains("CONVERT"))
  }

  test("render condition splitting is quote-aware") {
    // a substituted value containing '&' or '|' must stay one term
    assert(OhdsiSql.render("{'@v' == 'a&b'}?{K}:{E}", Map("v" -> "a&b")) === "K")
    assert(OhdsiSql.render("{'@v' == 'a|b'}?{K}:{E}", Map("v" -> "x")) === "E")
  }

  test("translate covers the documented SQL Server subset") {
    assert(OhdsiSql.translate("SELECT COUNT_BIG(*), ISNULL(a, 0), LEN(s) FROM t")
      === "SELECT COUNT(*), coalesce(a, 0), length(s) FROM t")
    assert(OhdsiSql.translate("SELECT DATEADD(day, 7, d), DATEADD(month, 1, d) FROM t")
      === "SELECT date_add(d, 7), add_months(d, 1) FROM t")
    assert(OhdsiSql.translate("SELECT DATEADD(year, 2, d) FROM t")
      === "SELECT add_months(d, 12 * (2)) FROM t")
    // DATEDIFF flips argument order (SQL Server: start, end; Spark: end, start)
    assert(OhdsiSql.translate("SELECT DATEDIFF(day, MIN(a), MAX(b)) FROM t")
      === "SELECT datediff(MAX(b), MIN(a)) FROM t")
    assert(OhdsiSql.translate("SELECT CHARINDEX('x', col1) FROM t")
      === "SELECT instr(col1, 'x') FROM t")
    assert(OhdsiSql.translate("SELECT EOMONTH(d), DATEFROMPARTS(2020, 1, 2) FROM t")
      === "SELECT last_day(d), make_date(2020, 1, 2) FROM t")
    assert(OhdsiSql.translate("SELECT TOP 5 x FROM t ORDER BY x")
      === "SELECT x FROM t ORDER BY x LIMIT 5")
    assert(OhdsiSql.translate("SELECT * FROM #stage")
      === "SELECT * FROM tmp_ohdsi_stage")
    // the round-9 additions
    assert(OhdsiSql.translate("SELECT IIF(a > b, 1, 0) FROM t")
      === "SELECT if(a > b, 1, 0) FROM t")
    assert(OhdsiSql.translate("SELECT DATEPART(year, d), DATEPART(mm, d), DATEPART(day, d) FROM t")
      === "SELECT year(d), month(d), day(d) FROM t")
    assert(OhdsiSql.translate("SELECT STDEV(x), SQUARE(x - 1) FROM t")
      === "SELECT stddev_samp(x), ((x - 1) * (x - 1)) FROM t")
    // the round-11 additions: SQL Server FLOAT is 8-byte; leading-dot
    // float literals get the explicit DOUBLE typing
    assert(OhdsiSql.translate("SELECT CAST(avg(x) AS FLOAT) FROM t")
      === "SELECT CAST(avg(x) AS DOUBLE) FROM t")
    assert(OhdsiSql.translate("SELECT a FROM t WHERE acc >= .50 * n")
      === "SELECT a FROM t WHERE acc >= CAST(.50 AS DOUBLE) * n")
  }

  test("translate fails loudly on unsupported dateparts and over-nested calls") {
    // hour is SUPPORTED since r15 (timestampadd); a genuinely unknown
    // datepart still refuses by name
    assert(OhdsiSql.translate("SELECT DATEADD(hour, 1, d) FROM t")
      === "SELECT timestampadd(HOUR, 1, d) FROM t")
    val e = intercept[IllegalArgumentException](
      OhdsiSql.translate("SELECT DATEADD(fortnight, 1, d) FROM t"))
    assert(e.getMessage.contains("fortnight"))
    val n = intercept[IllegalArgumentException](
      OhdsiSql.translate("SELECT DATEDIFF(day, f(g(h(a))), b) FROM t"))
    assert(n.getMessage.contains("DATEDIFF"))
  }

  test("execute runs the drop / select-into / report flow over temp views") {
    Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 5.0))
      .toDF("id", "grp", "v").createOrReplaceTempView("facts")
    val out = OhdsiSql.execute(spark,
      """IF OBJECT_ID('tempdb..#big', 'U') IS NOT NULL DROP TABLE #big;
        |SELECT id, grp INTO #big FROM facts WHERE v >= @cut;
        |SELECT TOP 10 grp, COUNT_BIG(*) AS n FROM #big GROUP BY grp ORDER BY grp""".stripMargin,
      params = Map("cut" -> "10"))
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("a", 2L)))
    // re-running is idempotent (the IF OBJECT_ID drop clears the view)
    val again = OhdsiSql.execute(spark,
      """IF OBJECT_ID('tempdb..#big', 'U') IS NOT NULL DROP TABLE #big;
        |SELECT id, grp INTO #big FROM facts WHERE v >= 5;
        |SELECT grp, COUNT(*) AS n FROM #big GROUP BY grp ORDER BY grp""".stripMargin)
    assert(again.count() === 2)
  }

  test("translate rewrites string '+' chains to concat, leaves arithmetic alone") {
    // the Achilles Heel warning idiom: literal + CAST + identifier chain
    assert(OhdsiSql.translate(
      "SELECT 'ERROR: ' + CAST(a.id AS VARCHAR) + '-' + a.name AS w FROM t a")
      === "SELECT concat('ERROR: ', CAST(a.id AS STRING), '-', a.name) AS w FROM t a")
    // chains with no string-literal term are genuine addition — untouched
    assert(OhdsiSql.translate("SELECT a + b + 1 FROM t")
      === "SELECT a + b + 1 FROM t")
    // quoted '+' stays data; escaped quotes survive
    assert(OhdsiSql.translate("SELECT 'a+b' + c FROM t")
      === "SELECT concat('a+b', c) FROM t")
    assert(OhdsiSql.translate("SELECT 'it''s' + x FROM t")
      === "SELECT concat('it''s', x) FROM t")
    // a literal adjacent to '+' that the term grammar cannot parse fails
    // loudly instead of reaching Spark as a type error
    val e = intercept[IllegalArgumentException](
      OhdsiSql.translate("SELECT 'x' + (SELECT max(v) FROM u (SELECT 1)) FROM t"))
    assert(e.getMessage.contains("concatenation too complex"))
  }

  test("execute requires a result-producing statement") {
    val e = intercept[IllegalArgumentException](
      OhdsiSql.execute(spark, "DROP TABLE #gone"))
    assert(e.getMessage.contains("no result-producing SELECT"))
  }

  test("execute appends INSERT INTO temp-table statements (the merge flow)") {
    Seq((1L, "x"), (2L, "y")).toDF("id", "s").createOrReplaceTempView("m_src")
    // first INSERT creates the view; second appends; the column list maps
    // the SELECT positionally (the reference's achilles_results merge)
    val out = OhdsiSql.execute(spark,
      """DROP TABLE IF EXISTS #acc;
        |INSERT INTO #acc (analysis_id, stratum_1, count_value)
        |SELECT 701 AS a, s, COUNT_BIG(*) AS n FROM m_src GROUP BY s;
        |INSERT INTO #acc (analysis_id, stratum_1, count_value)
        |SELECT 702 AS a, s, COUNT_BIG(*) AS n FROM m_src GROUP BY s;
        |SELECT analysis_id, stratum_1, count_value FROM #acc
        |ORDER BY analysis_id, stratum_1""".stripMargin)
    val rows = out.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows === Seq((701, "x", 1L), (701, "y", 1L), (702, "x", 1L), (702, "y", 1L)))
    // a column-count mismatch fails loudly, not silently misaligned
    val e = intercept[IllegalArgumentException](OhdsiSql.execute(spark,
      """INSERT INTO #acc2 (a, b) SELECT 1 AS x;
        |SELECT * FROM #acc2""".stripMargin))
    assert(e.getMessage.contains("column list"))
  }

  test("an apostrophe in a -- comment does not flip the ';' quote tracking") {
    // ADVICE r11: "don't" in a template comment made the splitter treat
    // the following ';' as inside-quotes, swallowing a statement boundary
    val stmts = OhdsiSql.translateScript(
      """-- don't count placeholders
        |SELECT 1 AS a;
        |SELECT 'it''s fine; really' AS b -- trailing note, isn't it
        |;
        |SELECT 3 AS c""".stripMargin)
    assert(stmts.length === 3, stmts.mkString("\n---\n"))
    assert(stmts(1).contains("'it''s fine; really'"),
      "quoted content (including its ';' and '') must survive comment stripping")
    assert(!stmts.exists(_.contains("--")), "comments must be stripped")
  }

  test("DELETE FROM re-registers the view minus matching rows (null-safe)") {
    // the statement the reference renders verbatim in its
    // update-given-analyses flow (achilles.py:243-270)
    import spark.implicits._
    Seq((101L, Option(5L)), (102L, Option(3L)), (108L, Option.empty[Long]),
        (200L, Option(1L)))
      .toDF("analysis_id", "count_value")
      .createOrReplaceTempView("tmp_ohdsi_delrows")
    val out = OhdsiSql.execute(spark,
      """DELETE FROM #delrows WHERE analysis_id IN (@analysisIds);
        |SELECT analysis_id, count_value FROM #delrows ORDER BY analysis_id
        |""".stripMargin,
      params = Map("analysisIds" -> "101,102"))
      .collect().map(_.getLong(0))
    assert(out.toSeq === Seq(108L, 200L))
    // NULL-predicate rows survive (three-valued DELETE semantics)
    val out2 = OhdsiSql.execute(spark,
      """DELETE FROM #delrows WHERE count_value < 10;
        |SELECT analysis_id FROM #delrows ORDER BY analysis_id""".stripMargin)
      .collect().map(_.getLong(0))
    assert(out2.toSeq === Seq(108L), "NULL count_value must survive the DELETE")
  }

  test("UPDATE ... SET rewrites assigned columns under the WHERE predicate") {
    // the tombstoning template shape
    // (SOURCE_TO_CONCEPT_MAP_update_invalid_reason.sql.jinja:3-5)
    import spark.implicits._
    Seq((1L, "V", "2019-06-01"), (2L, "V", "2021-01-01"))
      .toDF("id", "invalid_reason", "valid_start_date")
      .createOrReplaceTempView("tmp_ohdsi_s2cm")
    val out = OhdsiSql.execute(spark,
      """UPDATE #s2cm SET invalid_reason = 'D'
        |WHERE valid_start_date < '2020-01-01';
        |SELECT id, invalid_reason FROM #s2cm ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq === Seq((1L, "D"), (2L, "V")))
    // multi-assignment with a CASE WHEN carrying '=' inside the expr
    val out2 = OhdsiSql.execute(spark,
      """UPDATE #s2cm SET invalid_reason = CASE WHEN id = 2 THEN 'X' ELSE 'Y' END,
        |  valid_start_date = '1900-01-01';
        |SELECT id, invalid_reason, valid_start_date FROM #s2cm ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out2.toSeq === Seq((1L, "Y", "1900-01-01"), (2L, "X", "1900-01-01")))
    // unknown assigned column fails loudly
    val e = intercept[IllegalArgumentException](OhdsiSql.execute(spark,
      "UPDATE #s2cm SET nope = 1;\nSELECT id FROM #s2cm"))
    assert(e.getMessage.contains("unknown column"))
  }

  test("MERGE INTO upserts: matched rows update, unmatched source rows insert") {
    // the reference ETL's statement class
    // (SOURCE_TO_CONCEPT_MAP_merge.sql.jinja / {omop_table}_merge.sql.jinja)
    import spark.implicits._
    Seq((1L, "stale", "D"), (2L, "keep", "V"))
      .toDF("omop_id", "source", "invalid_reason")
      .createOrReplaceTempView("tmp_ohdsi_map")
    Seq((1L, "fresh"), (3L, "new"))
      .toDF("omop_id", "src_name")
      .createOrReplaceTempView("merge_src_rows")
    val out = OhdsiSql.execute(spark,
      """MERGE INTO #map AS T
        |USING (
        |  SELECT omop_id, src_name FROM merge_src_rows
        |) AS S
        |ON S.omop_id = T.omop_id
        |WHEN MATCHED THEN
        |  UPDATE SET T.source = S.src_name, T.invalid_reason = NULL
        |WHEN NOT MATCHED THEN
        |  INSERT (omop_id, source) VALUES (S.omop_id, S.src_name);
        |SELECT omop_id, source, invalid_reason FROM #map ORDER BY omop_id
        |""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(out.toSeq === Seq(
      (1L, "fresh", None),        // matched: updated, invalid_reason cleared
      (2L, "keep", Some("V")),    // untouched
      (3L, "new", None)))         // inserted; unnamed column defaults NULL
  }

  test("UPDATE..FROM under a CTE injects join values into matched rows only") {
    // the custom-concept id-injection template shape
    // ({omop_table}__{concept_id_column}_usagi_update_custom_concepts
    // .sql.jinja:3-16): CTE -> UPDATE T SET ... FROM usagi AS T INNER
    // JOIN cte ON code match AND status AND unmapped-only
    import spark.implicits._
    Seq(("a", 0L, "APPROVED"), ("b", 0L, "FLAGGED"), ("c", 7L, "APPROVED"),
        ("d", 0L, "APPROVED"))
      .toDF("sourceCode", "conceptId", "mappingStatus")
      .createOrReplaceTempView("tmp_ohdsi_usagi_upd")
    Seq(("a", 2000000001L), ("b", 2000000002L), ("d", 2000000004L))
      .toDF("concept_code", "concept_id")
      .createOrReplaceTempView("usagi_upd_concepts")
    val out = OhdsiSql.execute(spark,
      """WITH cte_custom_concepts AS (
        |  SELECT DISTINCT concept_code, concept_id FROM usagi_upd_concepts
        |)
        |UPDATE T
        |SET T.conceptId = c.concept_id
        |FROM #usagi_upd AS T
        |INNER JOIN cte_custom_concepts c ON T.sourceCode = c.concept_code
        |  AND T.mappingStatus = 'APPROVED'
        |  AND (T.conceptId IS NULL or T.conceptId = 0);
        |SELECT sourceCode, conceptId FROM #usagi_upd ORDER BY sourceCode
        |""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(
      ("a", 2000000001L),  // approved + unmapped -> injected
      ("b", 0L),           // not approved -> untouched
      ("c", 7L),           // already mapped -> untouched
      ("d", 2000000004L)))
    // a join side matching one target row twice is refused, not arbitrary
    Seq(("a", 1L), ("a", 2L)).toDF("concept_code", "concept_id")
      .createOrReplaceTempView("usagi_upd_dups")
    val e = intercept[IllegalArgumentException](OhdsiSql.execute(spark,
      """UPDATE T SET T.conceptId = c.concept_id
        |FROM #usagi_upd AS T
        |INNER JOIN usagi_upd_dups c ON T.sourceCode = c.concept_code;
        |SELECT * FROM #usagi_upd""".stripMargin))
    assert(e.getMessage.contains("more than one join row"))
  }

  test("TRUNCATE TABLE empties the view, keeping its schema") {
    // the vocabulary-refill statement class
    // (vocabulary_table_truncate.sql.jinja:3): truncate, re-fill, read
    import spark.implicits._
    Seq((1L, "old")).toDF("concept_id", "concept_name")
      .createOrReplaceTempView("tmp_ohdsi_vocab")
    Seq((2L, "new")).toDF("concept_id", "concept_name")
      .createOrReplaceTempView("vocab_staged")
    val out = OhdsiSql.execute(spark,
      """TRUNCATE TABLE #vocab;
        |INSERT INTO #vocab (concept_id, concept_name)
        |SELECT concept_id, concept_name FROM vocab_staged;
        |SELECT concept_id, concept_name FROM #vocab ORDER BY concept_id
        |""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq === Seq((2L, "new")), "refill must replace, not append")
  }

  test("MERGE refuses a target row matching more than one source row (8672)") {
    import spark.implicits._
    Seq((1L, "x")).toDF("omop_id", "source")
      .createOrReplaceTempView("tmp_ohdsi_map2")
    Seq((1L, "a"), (1L, "b")).toDF("omop_id", "src_name")
      .createOrReplaceTempView("merge_dup_rows")
    val e = intercept[IllegalArgumentException](OhdsiSql.execute(spark,
      """MERGE INTO #map2 AS T
        |USING (SELECT omop_id, src_name FROM merge_dup_rows) AS S
        |ON S.omop_id = T.omop_id
        |WHEN MATCHED THEN UPDATE SET T.source = S.src_name;
        |SELECT * FROM #map2""".stripMargin))
    assert(e.getMessage.contains("more than one source row"))
  }

  test("MERGE accepts WHEN NOT MATCHED before WHEN MATCHED (T-SQL clause order)") {
    // ADVICE r14: the reverse clause order is valid T-SQL; the INSERT body
    // must stop at the following WHEN MATCHED instead of swallowing it
    import spark.implicits._
    Seq((1L, "stale"), (2L, "keep")).toDF("omop_id", "source")
      .createOrReplaceTempView("tmp_ohdsi_map4")
    Seq((1L, "fresh"), (3L, "new")).toDF("omop_id", "src_name")
      .createOrReplaceTempView("merge_rev_rows")
    val out = OhdsiSql.execute(spark,
      """MERGE INTO #map4 AS T
        |USING (SELECT omop_id, src_name FROM merge_rev_rows) AS S
        |ON S.omop_id = T.omop_id
        |WHEN NOT MATCHED THEN INSERT (omop_id, source) VALUES (S.omop_id, S.src_name)
        |WHEN MATCHED THEN UPDATE SET T.source = S.src_name;
        |SELECT omop_id, source FROM #map4 ORDER BY omop_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq === Seq((1L, "fresh"), (2L, "keep"), (3L, "new")))
  }

  test("unterminated block comment fails loudly instead of returning an earlier SELECT") {
    // ADVICE r14: T-SQL errors on an unterminated block comment; silently
    // swallowing the tail could hand back a WRONG earlier result
    val e = intercept[IllegalArgumentException](OhdsiSql.translateScript(
      "SELECT 1 AS a;\n/* comment never closed\nSELECT 2 AS b"))
    assert(e.getMessage.contains("unterminated block comment"))
  }

  test("MERGE with a join (and its ON) inside the USING subquery parses") {
    import spark.implicits._
    Seq((1L, "one"), (2L, "two")).toDF("k", "v")
      .createOrReplaceTempView("merge_dim")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "n")
      .createOrReplaceTempView("merge_fact")
    Seq((1L, "old", 0L)).toDF("k", "label", "n")
      .createOrReplaceTempView("tmp_ohdsi_map3")
    val out = OhdsiSql.execute(spark,
      """MERGE INTO #map3 AS T
        |USING (
        |  SELECT f.k, d.v AS label, f.n
        |  FROM merge_fact f INNER JOIN merge_dim d ON d.k = f.k
        |) AS S
        |ON S.k = T.k
        |WHEN MATCHED THEN UPDATE SET T.label = S.label, T.n = S.n
        |WHEN NOT MATCHED THEN INSERT (k, label, n) VALUES (S.k, S.label, S.n);
        |SELECT k, label, n FROM #map3 ORDER BY k""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, "one", 10L), (2L, "two", 20L)))
  }

  test("named :binds substitute outside quotes, error when unbound, skip when none supplied") {
    // the reference's execute-time query parameters (sql_server/etl.py:73-100)
    val stmts = OhdsiSql.translateScript(
      "SELECT ':not_a_bind' AS a WHERE d < :etl_start",
      binds = Map("etl_start" -> "DATE '2024-01-01'"))
    assert(stmts.head.contains("DATE '2024-01-01'"))
    assert(stmts.head.contains("':not_a_bind'"), "colon inside quotes is content")
    val e = intercept[IllegalArgumentException](OhdsiSql.translateScript(
      "SELECT 1 WHERE id = :missing", binds = Map("other" -> "1")))
    assert(e.getMessage.contains(":missing"))
    // legacy scripts with no binds keep pass-through colons
    assert(OhdsiSql.translateScript("SELECT 'a:b' AS x").nonEmpty)
  }

  test("USE is a context no-op; sys.tables maps to the session catalog") {
    spark.sql("CREATE DATABASE IF NOT EXISTS ohdsi_spec_db")
    OhdsiSql.replaceCatalogTable(spark, "ohdsi_spec_db.t_alpha",
      Seq((1L, "x")).toDF("k", "v"))
    val out = OhdsiSql.execute(spark,
      """use [spark_catalog];
        |select t.name as table_name
        |from sys.tables t
        |where schema_name(t.schema_id) = 'ohdsi_spec_db'
        |order by table_name""".stripMargin)
      .collect().map(_.getString(0))
    assert(out.toSeq === Seq("t_alpha"))
  }

  test("UPDATE / DELETE against a three-part catalog name write back to the table") {
    spark.sql("CREATE DATABASE IF NOT EXISTS ohdsi_spec_db")
    OhdsiSql.replaceCatalogTable(spark, "ohdsi_spec_db.wb",
      Seq((1L, "keep"), (2L, "stale"), (3L, "stale")).toDF("id", "status"))
    OhdsiSql.executeAll(spark,
      """UPDATE [spark_catalog].[ohdsi_spec_db].[wb]
        |SET status = 'D'
        |where id >= :floor""".stripMargin, binds = Map("floor" -> "3"))
    OhdsiSql.executeAll(spark,
      "DELETE FROM [spark_catalog].[ohdsi_spec_db].[wb] WHERE id = 2")
    val rows = spark.table("ohdsi_spec_db.wb").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq === Seq((1L, "keep"), (3L, "D")))
  }

  test("IF NOT EXISTS probe guards CREATE TABLE; second run is a no-op") {
    spark.sql("CREATE DATABASE IF NOT EXISTS ohdsi_spec_db")
    spark.sql("DROP TABLE IF EXISTS ohdsi_spec_db.concept_id_swap")
    val swapLoc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/ohdsi_spec_db.db/concept_id_swap")
    swapLoc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(swapLoc, true)
    val ddl =
      """USE  [spark_catalog];
        |IF NOT EXISTS (SELECT 1 FROM sys.tables t INNER JOIN sys.schemas s ON s.schema_id = t.schema_id WHERE t.name = 'concept_id_swap' AND s.name = 'ohdsi_spec_db')
        |CREATE TABLE [spark_catalog].[ohdsi_spec_db].[concept_id_swap]
        |(x varchar(100), y integer);""".stripMargin
    OhdsiSql.executeAll(spark, ddl)
    assert(spark.table("ohdsi_spec_db.concept_id_swap").schema.map(_.name) ===
      Seq("x", "y"))
    // seed a row, re-run the guarded DDL: the probe now finds the table
    // and the CREATE must NOT clobber it
    spark.sql("INSERT INTO ohdsi_spec_db.concept_id_swap VALUES ('a', 1)")
    OhdsiSql.executeAll(spark, ddl)
    assert(spark.table("ohdsi_spec_db.concept_id_swap").count() === 1L)
    // a ')' inside a quoted literal does not close the probe: the probe
    // finds no such table and the guarded CREATE runs
    spark.sql("DROP TABLE IF EXISTS ohdsi_spec_db.paren_q")
    OhdsiSql.executeAll(spark,
      """IF NOT EXISTS (SELECT 1 FROM sys.tables t WHERE t.name = 'x)y' AND t.name <> ')')
        |CREATE TABLE [spark_catalog].[ohdsi_spec_db].[paren_q] (x varchar(10))""".stripMargin)
    assert(spark.catalog.tableExists("ohdsi_spec_db.paren_q"))
    // an unbalanced probe, and one whose only ')' is quoted, raise with
    // the shape named
    for (probe <- Seq("(SELECT 1 FROM sys.tables t WHERE (t.name = 'zz')",
        "(SELECT 1 FROM sys.tables t WHERE t.name = ')'"))
      for ((guard, shape) <- Seq(
          ("IF NOT EXISTS", "CREATE TABLE ohdsi_spec_db.never (x integer)"),
          ("IF EXISTS", "DROP TABLE ohdsi_spec_db.never"))) {
        val e = intercept[IllegalArgumentException](
          OhdsiSql.executeAll(spark, s"$guard $probe $shape"))
        assert(e.getMessage.endsWith(s"unbalanced parentheses in $guard probe"))
      }
  }

  test("MERGE under a leading WITH scopes the CTE over the USING subquery") {
    spark.sql("CREATE DATABASE IF NOT EXISTS ohdsi_spec_db")
    OhdsiSql.replaceCatalogTable(spark, "ohdsi_spec_db.swp",
      Seq(("seed", 100L)).toDF("x", "y"))
    Seq("b", "a", "b").toDF("code").createOrReplaceTempView("merge_src_codes")
    OhdsiSql.executeAll(spark,
      """WITH cte_max AS (
        |    SELECT COALESCE(MAX(y), 0) as y
        |    FROM [spark_catalog].[ohdsi_spec_db].[swp]
        |)
        |MERGE INTO [spark_catalog].[ohdsi_spec_db].[swp] AS T
        |USING (
        |    SELECT distinct concat('c__', t.code) as x, RANK() OVER(ORDER BY t.code) + cte_max.y as y
        |    FROM merge_src_codes t
        |    INNER JOIN cte_max on 1=1
        |    LEFT OUTER JOIN [spark_catalog].[ohdsi_spec_db].[swp] swap
        |        on swap.x = concat('c__', t.code)
        |    where swap.x is null
        |) AS S
        |ON S.x = T.x
        |WHEN NOT MATCHED THEN
        |    INSERT (x, y) VALUES (S.x, S.y)""".stripMargin)
    val rows = spark.table("ohdsi_spec_db.swp").orderBy("y")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq === Seq(("seed", 100L), ("c__a", 101L), ("c__b", 102L)))
  }

  test("BEGIN..END blocks are one statement; the guard creates table and skips indexes") {
    // the {primary_key_column}_swap_create shape: inner ';' must not
    // sever the IF NOT EXISTS guard from its body, and CASE..END inside
    // ordinary statements must not unbalance the accounting
    val stmts = OhdsiSql.translateScript(
      """SELECT CASE WHEN a > 0 THEN 'x;y' ELSE end_col END AS c FROM t;
        |IF NOT EXISTS (SELECT 1 FROM sys.tables t WHERE t.name = 'zz')
        |BEGIN
        |  CREATE TABLE w.zz (x varchar(255), y integer);
        |  CREATE INDEX idx_zz_1 ON w.zz (x);
        |END;
        |SELECT 2 AS b""".stripMargin)
    assert(stmts.length === 3, stmts.mkString("\n---\n"))
    assert(stmts(1).contains("CREATE INDEX"), "the block body stays attached")
    spark.sql("CREATE DATABASE IF NOT EXISTS ohdsi_spec_db")
    spark.sql("DROP TABLE IF EXISTS ohdsi_spec_db.blk")
    val blkLoc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/ohdsi_spec_db.db/blk")
    blkLoc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(blkLoc, true)
    OhdsiSql.executeAll(spark,
      """IF NOT EXISTS (SELECT 1 FROM sys.tables t INNER JOIN sys.schemas s ON s.schema_id = t.schema_id WHERE t.name = 'blk' AND s.name = 'ohdsi_spec_db')
        |BEGIN
        |  CREATE TABLE [spark_catalog].[ohdsi_spec_db].[blk] (x varchar(255), y integer);
        |  CREATE INDEX idx_blk_1 ON [spark_catalog].[ohdsi_spec_db].[blk] (x);
        |  CREATE INDEX idx_blk_2 ON [spark_catalog].[ohdsi_spec_db].[blk] (y);
        |END""".stripMargin)
    assert(spark.table("ohdsi_spec_db.blk").schema.map(_.name) === Seq("x", "y"))
  }

  test("MERGE WHEN MATCHED THEN DELETE removes matched target rows") {
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .createOrReplaceTempView("tmp_ohdsi_md_tgt")
    Seq(2L).toDF("k").createOrReplaceTempView("md_hits")
    val out = OhdsiSql.execute(spark,
      """MERGE INTO #md_tgt AS T
        |USING (SELECT k FROM md_hits) AS S
        |ON S.k = T.k
        |WHEN MATCHED THEN
        |  DELETE;
        |SELECT k, v FROM #md_tgt ORDER BY k""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq === Seq((1L, "a"), (3L, "c")))
    // a quoted ')' stays inside the USING subquery; an unclosed one raises
    val quoted = OhdsiSql.execute(spark,
      """MERGE INTO #md_tgt AS T
        |USING (SELECT k FROM md_hits WHERE ')' <> '(') AS S
        |ON S.k = T.k
        |WHEN MATCHED THEN
        |  DELETE;
        |SELECT k FROM #md_tgt ORDER BY k""".stripMargin)
    assert(quoted.collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    val open = intercept[IllegalArgumentException](OhdsiSql.executeAll(spark,
      "MERGE INTO #md_tgt AS T USING (SELECT k FROM md_hits WHERE (k > 0) AS S ON S.k = T.k " +
        "WHEN MATCHED THEN DELETE"))
    assert(open.getMessage.endsWith("unbalanced parentheses in MERGE USING subquery"))
    // UPDATE and DELETE on matched rows together is a refused shape
    val e = intercept[IllegalArgumentException](OhdsiSql.executeAll(spark,
      """MERGE INTO #md_tgt AS T USING (SELECT k FROM md_hits) AS S ON S.k = T.k
        |WHEN MATCHED THEN UPDATE SET T.v = 'x'
        |WHEN MATCHED THEN DELETE""".stripMargin))
    assert(e.getMessage.contains("cannot both"))
  }

  test("the CDM DDL's DECLARE/sp_executesql constraint preamble is a recognized no-op") {
    // dialect-native flow (the CDM DDL path): no SqlRender pass, so the
    // T-SQL @variable never reads as an unbound render parameter
    OhdsiSql.executeAll(spark,
      """DECLARE @DropConstraints NVARCHAR(max) = ''
        |SELECT @DropConstraints += 'ALTER TABLE ' + QUOTENAME(OBJECT_SCHEMA_NAME(parent_object_id))
        |FROM sys.foreign_keys
        |EXECUTE sp_executesql @DropConstraints;""".stripMargin, sqlRender = false)
    // any OTHER dynamic-SQL shape refuses loudly
    val e = intercept[IllegalArgumentException](OhdsiSql.executeAll(spark,
      "DECLARE @x NVARCHAR(max) = 'DROP TABLE t' EXECUTE sp_executesql @x",
      sqlRender = false))
    assert(e.getMessage.contains("DECLARE"))
  }

  test("catalog INSERT INTO appends positionally with target-type casts, WITH prefix allowed") {
    OhdsiSql.replaceCatalogTable(spark, "ohdsi_spec_db.ins",
      Seq((1, "a")).toDF("k", "v"))
    OhdsiSql.executeAll(spark,
      """WITH src AS (SELECT 2 AS n, 'b' AS s)
        |INSERT INTO [spark_catalog].[ohdsi_spec_db].[ins]
        |SELECT n, s FROM src""".stripMargin)
    val rows = spark.table("ohdsi_spec_db.ins").orderBy("k")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq === Seq((1, "a"), (2, "b")))
    // arity mismatch refuses
    val e = intercept[IllegalArgumentException](OhdsiSql.executeAll(spark,
      "INSERT INTO [spark_catalog].[ohdsi_spec_db].[ins] SELECT 1"))
    assert(e.getMessage.contains("columns"))
  }

  test("INSERT INTO a bare-name catalog table appends to the table, not a temp view") {
    val loc = java.nio.file.Files.createTempDirectory("ohdsi_bare_ins").resolve("t")
    spark.sql("DROP TABLE IF EXISTS ohdsi_bare_ins")
    spark.sql(s"CREATE TABLE ohdsi_bare_ins (k BIGINT, v STRING) USING parquet LOCATION '$loc'")
    try {
      spark.sql("INSERT INTO ohdsi_bare_ins VALUES (1, 'a')")
      OhdsiSql.executeAll(spark, "INSERT INTO ohdsi_bare_ins (k, v) SELECT 2 AS k, 'b' AS v")
      assert(!spark.catalog.getTable("ohdsi_bare_ins").isTemporary,
        "the INSERT shadowed the table with a temp view")
      val rows = spark.newSession().table("ohdsi_bare_ins").orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(rows.toSeq === Seq((1L, "a"), (2L, "b")))
    } finally {
      spark.catalog.dropTempView("ohdsi_bare_ins")
      spark.sql("DROP TABLE IF EXISTS ohdsi_bare_ins")
    }
  }

  test("catalog INSERT appends by file move — existing files are never rewritten") {
    // r22: an INSERT materializes ONLY the delta and moves its files into
    // the table location; the existing bytes must stay byte-identical on
    // disk (at 100 TB: write the delta, not the table)
    spark.sql("CREATE DATABASE IF NOT EXISTS ohdsi_spec_db")
    OhdsiSql.replaceCatalogTable(spark, "ohdsi_spec_db.appmv",
      Seq((1L, "a")).toDF("k", "v"))
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/ohdsi_spec_db.db/appmv")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles = fs.listStatus(loc)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .map(f => (f.getPath.getName, f.getModificationTime)).toSet
    val before = dataFiles
    assert(before.nonEmpty)
    // self-reading INSERT: the delta scans the table it appends to
    OhdsiSql.executeAll(spark,
      """INSERT INTO [spark_catalog].[ohdsi_spec_db].[appmv]
        |SELECT k + 10, v FROM [spark_catalog].[ohdsi_spec_db].[appmv]""".stripMargin)
    val after = dataFiles
    assert(before.subsetOf(after), "an append rewrote existing files")
    assert(after.size > before.size, "the delta landed no new files")
    val rows = spark.table("ohdsi_spec_db.appmv").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq === Seq((1L, "a"), (11L, "a")))
    // staging cleaned up
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") +
        "/ohdsi_spec_db.db/.graft_stage_append_appmv")))
  }

  test("replaceCatalogTable swaps by rename — schema, clustering and contents survive") {
    spark.sql("CREATE DATABASE IF NOT EXISTS ohdsi_spec_db")
    // a clustered table records its keys; the swap must re-point the
    // catalog (fresh location) and keep graft.cluster_by
    spark.sql("DROP TABLE IF EXISTS ohdsi_spec_db.swapren")
    val swapLoc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/ohdsi_spec_db.db/swapren")
    val fs = swapLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(swapLoc, true)
    spark.sql("CREATE TABLE ohdsi_spec_db.swapren (k BIGINT, v STRING) USING parquet " +
      "TBLPROPERTIES ('graft.cluster_by' = 'k')")
    OhdsiSql.replaceCatalogTable(spark, "ohdsi_spec_db.swapren",
      Seq((2L, "b"), (1L, "a")).toDF("k", "v"))
    assert(OhdsiSql.tableClusterBy(spark, "ohdsi_spec_db.swapren") === Some(Seq("k")))
    assert(spark.table("ohdsi_spec_db.swapren").schema.map(f => (f.name, f.dataType.sql)) ===
      Seq(("k", "BIGINT"), ("v", "STRING")))
    assert(spark.table("ohdsi_spec_db.swapren").orderBy("k")
      .collect().map(_.getString(1)).toSeq === Seq("a", "b"))
    // the data lives at the conventional location; no staging left behind
    assert(fs.exists(swapLoc))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/ohdsi_spec_db.db/.graft_stage_swapren")))
    // a second replace that READS the table it replaces (self-read swap)
    OhdsiSql.executeAll(spark,
      """UPDATE [spark_catalog].[ohdsi_spec_db].[swapren]
        |SET v = 'z' where k = 1""".stripMargin)
    assert(spark.table("ohdsi_spec_db.swapren").orderBy("k")
      .collect().map(_.getString(1)).toSeq === Seq("z", "b"))
  }

  test("replaceCatalogTable rewrites a table at its registered location outside the warehouse") {
    import org.apache.hadoop.fs.Path
    spark.sql("CREATE DATABASE IF NOT EXISTS ohdsi_spec_db")
    spark.sql("DROP TABLE IF EXISTS ohdsi_spec_db.elsewhere")
    val conventional = new Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/ohdsi_spec_db.db/elsewhere")
    val fs = conventional.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(conventional, true)
    val loc = new Path(
      java.nio.file.Files.createTempDirectory("graft-elsewhere").toString + "/elsewhere")
    spark.sql(s"CREATE TABLE ohdsi_spec_db.elsewhere (k BIGINT) USING parquet LOCATION '$loc'")
    spark.sql("INSERT INTO ohdsi_spec_db.elsewhere VALUES (1), (2)")
    def dataFiles = fs.listStatus(loc).map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSet
    val oldFiles = dataFiles
    assert(oldFiles.nonEmpty)
    OhdsiSql.replaceCatalogTable(spark, "ohdsi_spec_db.elsewhere", Seq(7L).toDF("k"))
    assert(spark.table("ohdsi_spec_db.elsewhere").as[Long].collect().toSeq === Seq(7L))
    val registered = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("elsewhere", Some("ohdsi_spec_db"))).location
    assert(registered.getPath === loc.toUri.getPath, "the table moved off its location")
    assert((dataFiles intersect oldFiles).isEmpty, s"old part files left at $loc")
    assert(!fs.exists(new Path(loc.toString + ".__old")), "the demoted copy was left behind")
    assert(!fs.exists(new Path(loc.getParent, ".graft_stage_elsewhere")))
    assert(!fs.exists(conventional), "the replace wrote to the warehouse path")
    spark.sql("DROP TABLE ohdsi_spec_db.elsewhere")
  }

  test("block comments strip quote-aware, nested, and with embedded ';'/keywords") {
    // ADVICE r13: a template's /********/ header carries apostrophes,
    // semicolons, and statement keywords — all must be invisible to the
    // splitter and the ^-anchored dispatch
    val stmts = OhdsiSql.translateScript(
      """/*********
        |PLAUSIBLE_VALUE_LOW; don't dispatch on this INSERT INTO header
        |/* nested per the T-SQL rule */ still comment
        |*********/
        |SELECT 1 AS a;
        |SELECT '/* not a comment; content */' AS b /* mid /* nest */ gone */;
        |SELECT 3 AS c""".stripMargin)
    assert(stmts.length === 3, stmts.mkString("\n---\n"))
    assert(stmts(1).contains("'/* not a comment; content */'"),
      "block-comment markers inside quotes are content")
    assert(!stmts(1).contains("gone"), "real block comments are stripped")
    assert(stmts(0).trim.startsWith("SELECT"),
      "a leading header block must not shadow statement dispatch")
  }

  // ---- r16: the GoogleSQL pre-pass hardening + clustering metadata ----

  test("translateBigQuery is quote-aware: literals survive, code rewrites") {
    val out = OhdsiSql.translateBigQuery(
      """SELECT 'DATETIME' AS lit1, "has INT64 and @not_a_bind" AS lit2,
        |  CAST(x AS INT64) AS a, CAST(y AS FLOAT64) AS b,
        |  DATE(2099, 12, 31) AS d, CURRENT_DATETIME() AS now
        |FROM `ds.tbl` WHERE id = @id""".stripMargin)
    assert(out.contains("'DATETIME'"), "single-quoted literal must survive")
    assert(out.contains("\"has INT64 and @not_a_bind\""),
      "double-quoted literal must survive")
    assert(out.contains("CAST(x AS BIGINT)") && out.contains("CAST(y AS DOUBLE)"))
    assert(out.contains("make_date(2099, 12, 31)"))
    assert(out.contains("current_timestamp()"))
    assert(out.contains("`ds`.`tbl`"), "whole-path backquotes split per part")
    assert(out.contains(":id"), "GoogleSQL @param maps to the bridge's :bind")
  }

  test("escaped quotes inside literals stay content (r17 ADVICE hardening)") {
    // GoogleSQL backslash escape: the \' must not close the literal —
    // the INT64 after it is CONTENT, the one outside rewrites
    val bs = OhdsiSql.translateBigQuery(
      """SELECT 'it\'s INT64 here' AS a, CAST(x AS INT64) AS b FROM t""")
    assert(bs.contains("""'it\'s INT64 here'"""),
      s"backslash-escaped quote desynced the scanner: $bs")
    assert(bs.contains("CAST(x AS BIGINT)"))
    // doubled-quote escape: '' inside a literal is content, not a close
    val dq = OhdsiSql.translateBigQuery(
      """SELECT 'don''t touch INT64' AS a, CAST(x AS INT64) AS b FROM t""")
    assert(dq.contains("'don''t touch INT64'"),
      s"doubled-quote escape desynced the scanner: $dq")
    assert(dq.contains("CAST(x AS BIGINT)"))
  }

  test("FORMAT_TIMESTAMP deeper than one nesting level refuses loudly, named") {
    val e = intercept[IllegalArgumentException](OhdsiSql.translateBigQuery(
      """SELECT FORMAT_TIMESTAMP("%Y", timestamp_add(ts, INTERVAL least(1, 2) DAY)) FROM t"""))
    assert(e.getMessage.contains("FORMAT_TIMESTAMP"), e.getMessage)
  }

  test("a string literal containing FORMAT_TIMESTAMP( is content, not a refusal") {
    // ADVICE r17: the residual-shape guard runs outside quotes only
    val out = OhdsiSql.translateBigQuery(
      "SELECT 'docs say FORMAT_TIMESTAMP(fmt, ts) here' AS hint FROM t")
    assert(out.contains("FORMAT_TIMESTAMP(fmt, ts)"), out)
  }

  test("sys-catalog scoping falls back to the full listing on non-equality name predicates") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_spec_sc1")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_spec_sc2")
    OhdsiSql.executeAll(spark,
      "DROP TABLE IF EXISTS graft_spec_sc1.t1; CREATE TABLE graft_spec_sc1.t1 (a integer)")
    OhdsiSql.executeAll(spark,
      "DROP TABLE IF EXISTS graft_spec_sc2.t2; CREATE TABLE graft_spec_sc2.t2 (a integer)")
    // equality probe: scoped snapshot still finds the named db's table
    val eq = OhdsiSql.execute(spark,
      """SELECT t.name FROM sys.tables t
        |INNER JOIN sys.schemas s ON s.schema_id = t.schema_id
        |WHERE s.name = 'graft_spec_sc1'""".stripMargin)
    assert(eq.collect().map(_.getString(0)).toSet == Set("t1"))
    // NON-equality probe (ADVICE r16): s.name <> 'x' beside a literal
    // that happens to name a db — scoping must NOT subset to that db
    val ne = OhdsiSql.execute(spark,
      """SELECT t.name FROM sys.tables t
        |INNER JOIN sys.schemas s ON s.schema_id = t.schema_id
        |WHERE s.name <> 'graft_spec_sc1' AND t.name <> 'nope'""".stripMargin)
    val neNames = ne.collect().map(_.getString(0)).toSet
    assert(neNames.contains("t2") && !neNames.contains("t1"),
      s"non-equality predicate mis-scoped: $neNames")
    // ADVICE r17: a TABLE-name equality whose literal happens to name a
    // db, beside a NOT LIKE schema predicate — neither may subset the
    // database list (t.name is not a schema-name expression; NOT LIKE is
    // not a quoted equality, so scoping must disable entirely)
    OhdsiSql.executeAll(spark,
      "DROP TABLE IF EXISTS graft_spec_sc2.graft_spec_sc1; " +
        "CREATE TABLE graft_spec_sc2.graft_spec_sc1 (a integer)")
    val nl = OhdsiSql.execute(spark,
      """SELECT t.name FROM sys.tables t
        |INNER JOIN sys.schemas s ON s.schema_id = t.schema_id
        |WHERE t.name = 'graft_spec_sc1' AND s.name NOT LIKE 'graft_spec_sc1%'""".stripMargin)
    assert(nl.collect().map(_.getString(0)).toSet == Set("graft_spec_sc1"),
      "t.name literal + NOT LIKE schema predicate must take the full listing")
    // relational comparison on a schema-name expression also disables
    val rel = OhdsiSql.execute(spark,
      """SELECT t.name FROM sys.tables t
        |INNER JOIN sys.schemas s ON s.schema_id = t.schema_id
        |WHERE s.name >= 'graft_spec_sc2' AND s.name <= 'graft_spec_sc2'""".stripMargin)
    val relNames = rel.collect().map(_.getString(0)).toSet
    assert(relNames.contains("t2"), s"relational schema predicate mis-scoped: $relNames")
    // ADVICE r19: a FUNCTION-WRAPPED schema predicate is invisible to the
    // equality counters — beside a plain equality it must disable scoping
    // (the wrap can match a db the literal set does not name)
    val wrapped = OhdsiSql.execute(spark,
      """SELECT t.name FROM sys.tables t
        |INNER JOIN sys.schemas s ON s.schema_id = t.schema_id
        |WHERE s.name = 'graft_spec_sc1' OR UPPER(s.name) = 'GRAFT_SPEC_SC2'""".stripMargin)
    val wrappedNames = wrapped.collect().map(_.getString(0)).toSet
    assert(wrappedNames.contains("t2"),
      s"function-wrapped schema predicate mis-scoped: $wrappedNames")
    // ADVICE r19: a CONCAT-SPLICED schema predicate likewise
    val spliced = OhdsiSql.execute(spark,
      """SELECT t.name FROM sys.tables t
        |INNER JOIN sys.schemas s ON s.schema_id = t.schema_id
        |WHERE s.name = 'graft_spec_sc1' OR s.name + '_x' = 'graft_spec_sc2_x'""".stripMargin)
    val splicedNames = spliced.collect().map(_.getString(0)).toSet
    assert(splicedNames.contains("t2"),
      s"concat-spliced schema predicate mis-scoped: $splicedNames")
    // ADVICE r19: an alias bound to sys.schemas in one subquery and
    // REBOUND to sys.tables in another makes the t-side name equality
    // count as a schema literal — scoping must disable (else the
    // snapshot subsets to the schema literal's db and the rebound
    // subquery loses its table)
    val rebound = OhdsiSql.execute(spark,
      """SELECT
        |  (SELECT count(*) FROM sys.schemas s WHERE s.name = 'graft_spec_sc1') AS a,
        |  (SELECT count(*) FROM sys.tables s WHERE s.name = 't2') AS b""".stripMargin)
    val rb = rebound.collect().head
    assert(rb.getLong(0) == 1L && rb.getLong(1) == 1L,
      s"rebound-alias statement mis-scoped: (${rb.getLong(0)}, ${rb.getLong(1)})")
  }

  test("translateBigQuery refuses the DATETIME(...) constructor loudly") {
    val e = intercept[IllegalArgumentException](
      OhdsiSql.translateBigQuery("SELECT DATETIME(2020, 1, 1, 0, 0, 0)"))
    assert(e.getMessage.contains("DATETIME"))
  }

  test("FORMAT_TIMESTAMP maps its strftime pattern; unknown codes refuse") {
    val out = OhdsiSql.translateBigQuery(
      """SELECT FORMAT_TIMESTAMP("%Y-%m-%d %T", ts) AS label FROM t""")
    assert(out.contains("date_format(ts, 'yyyy-MM-dd HH:mm:ss')"), out)
    val e = intercept[IllegalArgumentException](OhdsiSql.translateBigQuery(
      """SELECT FORMAT_TIMESTAMP("%Q", ts) FROM t"""))
    assert(e.getMessage.contains("%Q"))
  }

  test("unguarded CREATE TABLE fails loudly on an existing table (SQL Server parity)") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_spec_ct")
    OhdsiSql.executeAll(spark,
      "CREATE TABLE graft_spec_ct.t_exists (a integer)")
    val e = intercept[IllegalArgumentException](OhdsiSql.executeAll(spark,
      "CREATE TABLE graft_spec_ct.t_exists (a integer)"))
    assert(e.getMessage.contains("already exists"))
    // the guarded forms still replace / no-op
    OhdsiSql.executeAll(spark,
      "DROP TABLE IF EXISTS graft_spec_ct.t_exists; CREATE TABLE graft_spec_ct.t_exists (b varchar(10))")
    assert(spark.table("graft_spec_ct.t_exists").columns.toSeq == Seq("b"))
  }

  test("CREATE TABLE records CLUSTER BY keys; write-backs keep them") {
    spark.sql("DROP DATABASE IF EXISTS graft_spec_cb CASCADE")
    OhdsiSql.executeAll(spark, OhdsiSql.translateBigQuery(
      "CREATE TABLE `graft_spec_cb.c` (k INT64, v STRING) CLUSTER BY k"),
      sqlRender = false)
    assert(OhdsiSql.tableClusterBy(spark, "graft_spec_cb.c") == Some(Seq("k")))
    spark.range(10).selectExpr("CAST(10 - id AS BIGINT) AS k", "'x' AS v")
      .createOrReplaceTempView("spec_cb_src")
    OhdsiSql.executeAll(spark,
      "INSERT INTO graft_spec_cb.c SELECT k, v FROM spec_cb_src")
    // the clustering survives the write-back swap
    assert(OhdsiSql.tableClusterBy(spark, "graft_spec_cb.c") == Some(Seq("k")))
    assert(spark.table("graft_spec_cb.c").count() == 10L)
  }

  test("aliased UPDATE <t> T SET (the GoogleSQL tombstone shape) resolves") {
    spark.sql("DROP DATABASE IF EXISTS graft_spec_up CASCADE")
    spark.sql("CREATE DATABASE graft_spec_up")
    // a LOCATION left by a previous JVM outlives the in-memory catalog
    // (the r15 trap) — clear it before the managed write
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/graft_spec_up.db/m")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    spark.range(5).selectExpr("id", "CAST(NULL AS STRING) AS invalid_reason")
      .write.saveAsTable("graft_spec_up.m")
    OhdsiSql.executeAll(spark,
      "UPDATE graft_spec_up.m T SET invalid_reason = 'D' where T.id < 2")
    val marked = spark.table("graft_spec_up.m")
      .where("invalid_reason = 'D'").count()
    assert(marked == 2L)
  }

  test("translate rewrites code only: string literals come back verbatim") {
    for (q <- Seq("SELECT 'rank #1' AS m", "SELECT 'see [note]' AS m",
        "SELECT 'use ISNULL(x) or GETDATE()' AS m", "SELECT 'SELECT TOP 5 rows' AS m"))
      assert(OhdsiSql.translateScript(q) === Seq(q))
    // the rules around a literal still read it as an argument
    assert(OhdsiSql.translate(
      "SELECT TOP 2 ISNULL(a, '#x [y]'), DATEADD(day, 1, '2020-01-01') FROM #t") ===
      "SELECT coalesce(a, '#x [y]'), date_add('2020-01-01', 1) FROM tmp_ohdsi_t LIMIT 2")
    assert(OhdsiSql.translate("SELECT CHARINDEX('a,b', c), 'p+q' + c FROM t") ===
      "SELECT instr(c, 'a,b'), concat('p+q', c) FROM t")
  }

  test("both dialects return string literals verbatim") {
    val q = "SELECT 'rank #1' AS m, 'see [note]' AS n, 'use ISNULL(x) or GETDATE()' AS o, " +
      "'SELECT TOP 5 rows' AS p, 'CAST(x AS FLOAT)' AS f"
    val want = Seq("rank #1", "see [note]", "use ISNULL(x) or GETDATE()", "SELECT TOP 5 rows",
      "CAST(x AS FLOAT)")
    assert(OhdsiSql.execute(spark, q).head().toSeq === want)
    assert(OhdsiSql.executeAll(spark, OhdsiSql.translateBigQuery(q), sqlRender = false)
      .get.head().toSeq === want)
  }

  test("BigQuery scripts scan double-quoted strings as literals") {
    val q = OhdsiSql.translateBigQuery("SELECT \"rank #1\" AS m, \"see [note]\" AS n")
    assert(OhdsiSql.executeAll(spark, q, sqlRender = false, quotes = SqlText.GoogleSql)
      .get.head().toSeq === Seq("rank #1", "see [note]"))
    // an apostrophe inside a double-quoted string opens no literal
    assert(OhdsiSql.translateScript("SELECT \"it's\" AS a; SELECT 2 AS b", sqlRender = false,
      quotes = SqlText.GoogleSql) === Seq("SELECT \"it's\" AS a", "SELECT 2 AS b"))
  }
}

package graft.operators

import graft.SparkSpec
import graft.model.{CdmField, CdmModel}
import org.apache.spark.sql.{DataFrame, Row}

/** Unit coverage for the DQD families that have no natural TPC-H-universe
  * instance (plausibleAfterBirth, plausibleDuringLife over a death table)
  * plus hand-computed expectations for the join-based families — a tiny
  * clinical universe with KNOWN violation counts, checked exactly.
  */
class DqdChecksSpec extends SparkSpec {
  import DqdChecks._

  // person(1) born 2000-01-01 died 2010-06-01; person(2) born 1990-01-01
  // alive; person(3) born 1980-01-01 died 1985-01-01.
  private def f(t: String, n: String, dt: String, req: Boolean = false,
      pk: Boolean = false, fk: Option[String] = None) =
    CdmField(t, n, dt, req, pk, fk, "CDM")

  private val model = CdmModel(fields = Seq(
    f("person", "person_id", "int64", req = true, pk = true),
    f("person", "gender_concept_id", "int64", req = true),
    f("person", "birth_datetime", "datetime"),
    f("death", "person_id", "int64", req = true, fk = Some("person")),
    f("death", "death_date", "date", req = true),
    f("visit", "visit_id", "int64", req = true, pk = true),
    f("visit", "person_id", "int64", req = true, fk = Some("person")),
    f("visit", "visit_start_date", "date", req = true),
    f("visit", "visit_end_date", "date", req = true),
    f("obs", "obs_id", "int64", req = true, pk = true),
    f("obs", "person_id", "int64", req = true, fk = Some("person")),
    f("obs", "visit_id", "int64", fk = Some("visit")),
    f("obs", "obs_concept_id", "int64", req = true),
    f("obs", "obs_date", "date", req = true),
    f("obs", "obs_source_value", "string"),
    f("concept", "concept_id", "int64", req = true, pk = true),
    f("concept", "standard_concept", "string"),
    f("concept", "invalid_reason", "string")))

  private def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
  private def dt(s: String) = java.sql.Date.valueOf(s)

  private lazy val tables: Map[String, DataFrame] = {
    val s = spark
    def mk(name: String, rows: Seq[Row]): DataFrame =
      s.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        model.sparkSchema(name))
    Map(
      "person" -> mk("person", Seq(
        Row(1L, 8507L, ts("2000-01-01")),
        Row(2L, 8532L, ts("1990-01-01")),
        Row(3L, 8507L, ts("1980-01-01")))),
      "death" -> mk("death", Seq(
        Row(1L, dt("2010-06-01")),
        Row(3L, dt("1985-01-01")))),
      "visit" -> mk("visit", Seq(
        Row(10L, 1L, dt("2005-01-10"), dt("2005-01-20")),
        Row(11L, 2L, dt("2010-03-01"), dt("2010-03-02")))),
      "obs" -> mk("obs", Seq(
        // inside visit 10, standard concept, after birth, during life
        Row(100L, 1L, 10L, 7001L, dt("2005-01-12"), "x"),
        // 2 days after visit 10 end + 1 slack -> withinVisitDates violated
        Row(101L, 1L, 10L, 7001L, dt("2005-01-23"), "a"),
        // before person 1's birth -> plausibleAfterBirth violated
        Row(102L, 1L, null, 7002L, dt("1999-12-31"), "b"),
        // >60 days after person 3's death -> plausibleDuringLife violated
        Row(103L, 3L, null, 7002L, dt("1985-04-01"), "b"),
        // standard-but-invalidated concept 7003 row
        Row(104L, 2L, 11L, 7003L, dt("2010-03-01"), "c"))),
      "concept" -> mk("concept", Seq(
        Row(7001L, "S", null),
        Row(7002L, null, null),       // not standard
        Row(7003L, "S", "D"))))       // standard but invalidated
  }

  private lazy val load: String => DataFrame = tables(_)

  private val rules = RuleSet(
    temporal = Seq(TemporalRule("obs", "obs_date", "person_id", "birth_datetime",
      name = "plausibleAfterBirth")),
    duringLife = Seq(DuringLifeRule("obs", "obs_date", "person_id",
      "death", "person_id", "death_date")),
    withinVisit = Seq(WithinVisitRule("obs", "obs_date", "visit_id",
      "visit_start_date", "visit_end_date", slackDays = 1)),
    conceptAttrs = Seq(ConceptAttrRule("isStandardValidConcept", "obs", "obs_concept_id",
      "concept", "concept_id", "standard_concept", Seq("S"),
      invCol = Some("invalid_reason"))),
    sourceValues = Seq(SourceValueRule("obs", "obs_source_value", "obs_concept_id")),
    siblings = Seq(SiblingCompletenessRule("measureConditionEraCompleteness",
      "visit", "person_id", "obs", "person_id")),
    genders = Seq(GenderRule("obs", "obs_concept_id", "7002",
      "person_id", "gender_concept_id", Seq("8532"))),
    units = Seq(UnitRule("obs", "obs_concept_id", "7001",
      "obs_source_value", Seq("x"))))

  private lazy val results: Map[String, (Long, Long)] =
    fieldLevel(model, load, rules)
      .select("check_id", "num_violated_rows", "num_denominator_rows")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("plausibleAfterBirth counts the pre-birth record") {
    // row 102 (1999-12-31 < person 1's 2000-01-01 birth); all 5 obs rows
    // have a person with a birth date
    assert(results("field_plausibleafterbirth_obs_obs_date") === ((1L, 5L)))
  }

  test("plausibleDuringLife counts the >60-days-post-death record") {
    // persons 1 and 3 have death rows -> denominator 4 (rows 100-103);
    // row 103 is 90 days after person 3's death
    assert(results("field_plausibleduringlife_obs_obs_date") === ((1L, 4L)))
  }

  test("withinVisitDates counts the outside-window record") {
    // rows 100, 101, 104 reference a visit -> denominator 3; row 101 lands
    // 2 days past visit 10's end (slack 1)
    assert(results("field_withinvisitdates_obs_obs_date") === ((1L, 3L)))
  }

  test("isStandardValidConcept rejects non-standard and invalidated concepts") {
    // rows 102+103 reference 7002 (not standard), row 104 references 7003
    // (invalid_reason set) -> 3 of 5 violated
    assert(results("field_isstandardvalidconcept_obs_obs_concept_id") === ((3L, 5L)))
  }

  test("sourceValueCompleteness is a distinct-value ratio") {
    // no concept id is 0 in this universe -> 0 violated of 4 distinct values
    val (v, d) = results("field_sourcevaluecompleteness_obs_obs_source_value")
    assert(v === 0L && d === 4L)
  }

  test("sibling completeness finds entities present in sibling but not table") {
    // persons with an obs row: {1, 2, 3}; persons with a visit: {1, 2}
    // -> person 3 violated, denominator 3
    assert(results("table_measureconditioneracompleteness_visit_person_id") === ((1L, 3L)))
  }

  test("plausibleGender checks the person parent's gender within the stratum") {
    // concept 7002 rows: 102 (person 1, male 8507 -> violated), 103
    // (person 3, male -> violated); allowed = female 8532
    assert(results("concept_plausiblegender_obs_obs_concept_id_7002") === ((2L, 2L)))
  }

  test("plausibleUnitConceptIds flags units outside the concept's list") {
    // concept 7001 rows: 100 (source value "x" allowed), 101 ("a" not
    // in the list -> violated)
    // literal OHDSI id shape: level_name_table_field_conceptid_unitids
    assert(results("concept_plausibleunitconceptids_obs_obs_source_value_7001_x") === ((1L, 2L)))
  }

  test("CDM 5.4 battery breadth derives from the model (no silent shrink)") {
    val m = graft.model.Cdm54.model
    val cdmRules = RuleSet(
      startEnd = startEndRules(m),
      completeness = personCompletenessRules(m),
      temporal = afterBirthRules(m),
      duringLife = duringLifeRules(m),
      withinVisit = withinVisitRules(m),
      conceptAttrs = standardConceptRules(m),
      recordCompleteness = recordCompletenessRules(m),
      sourceValues = sourceValueRules(m))
    val sql = emptyUniverseOracleSql(m, cdmRules)
    def occurrences(family: String): Int = sql.split(s"'$family'", -1).length - 1
    assert(occurrences("cdmTable") === m.tables.size)
    assert(occurrences("cdmField") ===
      m.tables.map(t => m.sparkSchema(t).fields.length).sum)
    assert(occurrences("isRequired") ===
      m.tables.map(t => m.requiredColumns(t).size).sum)
    assert(occurrences("isForeignKey") === m.tables.map(t => m.fks(t).size).sum)
    assert(occurrences("plausibleStartBeforeEnd") === startEndRules(m).size)
    assert(occurrences("plausibleAfterBirth") === afterBirthRules(m).size)
    assert(occurrences("plausibleDuringLife") === duringLifeRules(m).size)
    // the full battery stays north of a thousand generated checks
    val rows = sql.linesIterator.count(_.trim.startsWith("('"))
    assert(rows >= 1000, s"battery shrank to $rows checks")
  }

  test("battery count partials over disjoint fact slices merge to the full-scan counts") {
    // the streaming-append shape: the fact table (obs) arrives in slices
    // while the reference tables stay fixed; every slice-decomposable
    // obs check's merged counts must equal the full scan's EXACTLY
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val nd = NonDecomposableChecks.toSeq
    def countsWith(obs: DataFrame) =
      fieldLevelCounts(model, tb => if (tb == "obs") obs else tables(tb), rules)
        .filter(col("cdm_table_name") === "obs" && !col("check_name").isin(nd: _*))
    def toMap(df: DataFrame) =
      df.select("check_id", "num_violated_rows", "num_denominator_rows")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val full = toMap(countsWith(tables("obs")))
    val parts = Seq(0, 1).map(r =>
      countsWith(tables("obs").filter(pmod(col("obs_id"), lit(2)) === r)))
    val merged = toMap(mergeBatteryCounts(parts))
    assert(full.nonEmpty && merged === full)
    // an empty slice must not flip cdmTable back to 'missing' (min rule)
    val withEmpty = toMap(mergeBatteryCounts(Seq(
      countsWith(tables("obs")),
      countsWith(tables("obs").filter(lit(false))))))
    assert(withEmpty("table_cdmtable_obs") === full("table_cdmtable_obs"))
  }

  test("the CDM 5.4 battery carries all 26 DQD v2.6 check types") {
    // the published check-type census (check_descriptions CSV of DQD
    // v2.6): every type the engine implements must be INSTANTIATED in the
    // full CDM 5.4 battery, not just available — a rule-set edit that
    // drops a family must fail here, not silently shrink the battery
    val all26 = Set(
      "cdmTable", "cdmField", "isRequired", "cdmDatatype", "isPrimaryKey",
      "isForeignKey", "fkDomain", "fkClass", "measureValueCompleteness",
      "measurePersonCompleteness", "measureConditionEraCompleteness",
      "isStandardValidConcept", "standardConceptRecordCompleteness",
      "sourceConceptRecordCompleteness", "sourceValueCompleteness",
      "plausibleValueLow", "plausibleValueHigh", "plausibleTemporalAfter",
      "plausibleAfterBirth", "plausibleStartBeforeEnd", "plausibleDuringLife",
      "plausibleBeforeDeath", "withinVisitDates", "plausibleGender",
      "plausibleGenderUseDescendants", "plausibleUnitConceptIds")
    val sql = emptyUniverseOracleSql(
      graft.model.Cdm54.model, graft.queries.LifecycleQueries.cdm54Rules)
    val missing = all26.filterNot(n => sql.contains(s"'$n'"))
    assert(missing.isEmpty, s"battery lacks check types: $missing")
  }

  test("restricting the CDM rule catalog to the full CDM 5.4 model drops nothing") {
    val cdm54 = graft.model.Cdm54.model
    val rules = graft.queries.LifecycleQueries.cdm54Rules
    assert(graft.queries.LifecycleQueries.cdmRules(cdm54) === rules)
    // and a subset model keeps only rules over its own tables and columns
    val sub = cdm54.copy(fields = cdm54.fields.filter(_.table == "person")
      .map(_.copy(fkTable = None)))
    val kept = restrictTo(sub, rules)
    assert(kept.domains.map(_.table) === Seq("person"))
    assert(kept.bounds.keySet === Set(("person", "year_of_birth")))
    assert(kept.temporal.isEmpty && kept.completeness.isEmpty && kept.genders.isEmpty
      && kept.conceptAttrs.isEmpty && kept.units.isEmpty && kept.siblings.isEmpty)
  }

  test("the battery enumerates exactly the oracle's check set") {
    val oracleIds = "'(field|table|concept)_[A-Za-z]+_[A-Za-z0-9_]+'".r
    val sql = oracleSql(model, rules)
    val sparkIds = results.keySet
    val renderedIds = oracleIds.findAllIn(sql).map(_.stripPrefix("'").stripSuffix("'")).toSet
    assert(renderedIds === sparkIds)
  }
}

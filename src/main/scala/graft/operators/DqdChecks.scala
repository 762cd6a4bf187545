package graft.operators

import graft.model.CdmModel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Metadata-GENERATED DQD battery: the check rows are not hand-written —
  * they are derived from the model's required/pk/fk/type flags, exactly how
  * the reference instantiates its check families over the OHDSI CSVs
  * (`/root/reference/src/riab/etl/data_quality.py:57-109` loads the config,
  * `:200-237` runs one rendered query per config row, `:322-347` applies
  * per-row thresholds; check SQL templates under
  * `libs/DataQualityDashboard/inst/sql`).
  *
  * Check families generated per table/field — the reference's full set:
  *  - `cdmTable`          (TABLE, Conformance): table presence
  *  - `cdmField`          (FIELD, Conformance): column presence in the
  *     actually-loaded relation vs the spec
  *  - `isRequired`        (FIELD, Completeness): NULLs in a required field
  *  - `measureValueCompleteness` (FIELD, Completeness): NULL fraction of
  *     every non-required field
  *  - `cdmDatatype`       (FIELD, Conformance): int64 fields whose value
  *     does not parse as an integer
  *  - `isPrimaryKey`      (FIELD, Conformance): duplicate PK values
  *  - `isForeignKey`      (FIELD, Conformance): orphaned FK values
  *  - `fkDomain`          (FIELD, Conformance): values outside a domain list
  *  - `fkClass`           (FIELD, Conformance): referenced concept not of
  *     the required concept class (DQD: drug era ingredients)
  *  - `isStandardValidConcept` (FIELD, Conformance): referenced concept not
  *     standard ('S') and valid (invalid_reason NULL)
  *  - `standardConceptRecordCompleteness` (FIELD, Completeness): records
  *     with concept id 0 (unmapped)
  *  - `sourceConceptRecordCompleteness` (FIELD, Completeness): records with
  *     source concept id 0
  *  - `sourceValueCompleteness` (FIELD, Completeness): DISTINCT source
  *     values mapped to concept id 0
  *  - `plausibleValueLow/High` (FIELD+CONCEPT, Plausibility): out-of-bounds
  *     values, field-wide or per concept stratum
  *  - `plausibleTemporalAfter` (FIELD, Plausibility): a child date before
  *     its FK parent's date
  *  - `plausibleAfterBirth` (FIELD, Plausibility): a date before the
  *     person parent's birth — the same join machinery as temporalAfter,
  *     instantiated against person.birth_datetime
  *  - `plausibleStartBeforeEnd` (FIELD, Plausibility): same-row start>end
  *  - `plausibleDuringLife` (FIELD, Plausibility): a date more than 60 days
  *     after the person's death-table date
  *  - `plausibleBeforeDeath` (FIELD, Plausibility): DQD 2.6's renamed
  *     reimplementation of plausibleDuringLife (`data_quality.py:113`
  *     deprecation) — same 60-day-grace machinery, modern check id
  *  - `withinVisitDates` (FIELD, Plausibility): an event date outside its
  *     visit parent's [start-slack, end+slack] window
  *  - `plausibleGender` (CONCEPT, Plausibility): records of a
  *     gender-specific concept whose person parent has the wrong gender
  *  - `plausibleGenderUseDescendants` (CONCEPT, Plausibility): the DQD 2.6
  *     descendant-aware variant — the stratum is an ancestor concept's
  *     whole subtree per a CONCEPT_ANCESTOR-style closure table
  *  - `plausibleUnitConceptIds` (CONCEPT, Plausibility): records of a
  *     measured concept whose unit column is missing or outside the
  *     concept's plausible unit list
  *  - `measurePersonCompleteness` (TABLE, Completeness): persons with no
  *     record in the table
  *  - `measureConditionEraCompleteness` (TABLE, Completeness): persons with
  *     a source-sibling record (condition_occurrence) but no derived-table
  *     record (condition_era)
  *
  * Scale shape: each table's checks fold into TWO passes — branch A holds
  * every sum-style check over the parent-joined table (all joins are
  * left joins on unique keys, cardinality-preserving; one codegen'd
  * aggregate, NO distinct aggregates so no Expand), branch B holds the
  * distinct-style checks (isPrimaryKey, sourceValueCompleteness) over a
  * narrow projection of just the key/source columns — the Expand that
  * multi-distinct aggregation plans is confined to a scan that reads only
  * those columns. The whole battery is a union of O(#tables) branches,
  * nothing is collected on the driver.
  *
  * Each family writes a check's Spark aggregates and their DuckDB SQL side
  * by side, and [[oracleSql]] renders the SAME check list, so the
  * correctness gate checks the generation logic, not a transcribed check
  * list; [[emptyUniverseOracleSql]] renders the expected
  * output over an all-empty universe, letting the generator run at full
  * CDM 5.4 breadth without CDM test data.
  */
object DqdChecks {

  private val IntRegex = "^-?[0-9]+$"

  /** Per-field value bounds for the plausibleValueLow/High families. */
  type Bounds = Map[(String, String), (Option[Double], Option[Double])]

  /** Per-check failure thresholds, keyed (checkName, table, field) with a
    * percent value in [0, 100] — the analogue of DQD's per-row
    * `{checkName}Threshold` CSV columns (`data_quality.py:322-347`).
    */
  type Thresholds = Map[(String, String, String), Double]

  /** A temporal parent-join rule: `table.field` must not precede the FK
    * parent's `parentField` (reached through `fkCol`). `name` selects the
    * reported family: the generic `plausibleTemporalAfter`, or
    * `plausibleAfterBirth` when the parent field is the person birth date —
    * DQD instantiates both from the same template.
    */
  final case class TemporalRule(table: String, field: String, fkCol: String,
      parentField: String, name: String = "plausibleTemporalAfter")

  /** A plausibleStartBeforeEnd rule (same-row temporal): `startField` must
    * not exceed `endField`.
    */
  final case class StartEndRule(table: String, startField: String, endField: String)

  /** An fkDomain rule: non-null values of `table.field` must come from
    * `allowed`.
    */
  final case class DomainRule(table: String, field: String, allowed: Seq[String])

  /** A measurePersonCompleteness rule (TABLE-level Completeness): the
    * fraction of `fkCol`-parent rows with NO record in `table`.
    */
  final case class CompletenessRule(table: String, fkCol: String)

  /** A CONCEPT-level plausibility rule: within the stratum
    * `strataCol = strataValue` of `table`, non-null `field` values must lie
    * in [lo, hi].
    */
  final case class ConceptRule(table: String, strataCol: String, strataValue: String,
      field: String, lo: Option[Double], hi: Option[Double])

  /** A withinVisitDates rule (DQD's visit-window family,
    * `field_within_visit_dates.sql`): `table.field` must lie within the FK
    * parent's [`parentStart` - slack, `parentEnd` + slack] window.
    */
  final case class WithinVisitRule(table: String, field: String, fkCol: String,
      parentStart: String, parentEnd: String, slackDays: Int = 1)

  /** A plausibleDuringLife rule (`field_plausible_during_life.sql`): when a
    * row of `deathTable` exists for `table.fkCol`, `table.field` must not
    * exceed the death date by more than `graceDays` (DQD: 60).
    */
  final case class DuringLifeRule(table: String, field: String, fkCol: String,
      deathTable: String, deathKey: String, deathDateField: String, graceDays: Int = 60,
      name: String = "plausibleDuringLife")

  /** A concept-attribute conformance rule — the shared shape of DQD's
    * `isStandardValidConcept` (attr standard_concept='S' AND invalid_reason
    * NULL) and `fkClass` (attr concept_class_id = 'Ingredient'):
    * `table.field` joins `conceptTable.conceptPk` and the referenced row's
    * `attrCol` (as a string) must be in `allowed`, with `invCol` (if set)
    * NULL. `excludeZero` skips the CDM's unmapped-sentinel id 0.
    */
  final case class ConceptAttrRule(name: String, table: String, field: String,
      conceptTable: String, conceptPk: String, attrCol: String, allowed: Seq[String],
      invCol: Option[String] = None, excludeZero: Boolean = true)

  /** A plausibleGenderUseDescendants rule — DQD 2.6's descendant-aware
    * gender plausibility (`concept_plausible_gender_use_descendants.sql`):
    * instead of enumerating concept ids, the stratum is "the ancestor
    * concept's whole subtree" per a CONCEPT_ANCESTOR-style closure table.
    * Rows of `table` whose `conceptCol` appears among
    * `closureTable.descendantCol` where `closureTable.ancestorCol` =
    * `ancestorValue` must have an FK parent (via `fkCol`) whose
    * `parentGenderCol` is in `allowed`. The closure is taken as
    * authoritative (the real CONCEPT_ANCESTOR carries the reflexive
    * (c, c) rows, so "self" membership is the closure's call, not ours).
    */
  final case class GenderDescRule(table: String, conceptCol: String,
      closureTable: String, ancestorCol: String, descendantCol: String,
      ancestorValue: String, fkCol: String, parentGenderCol: String,
      allowed: Seq[String])

  /** A record-completeness rule — DQD's
    * `standardConceptRecordCompleteness` / `sourceConceptRecordCompleteness`:
    * fraction of rows where `field` = 0 (the unmapped sentinel).
    */
  final case class RecordCompletenessRule(name: String, table: String, field: String)

  /** A sourceValueCompleteness rule: fraction of DISTINCT `field` values
    * whose sibling `conceptField` is 0 in some row.
    */
  final case class SourceValueRule(table: String, field: String, conceptField: String)

  /** A sibling-completeness rule (DQD's measureConditionEraCompleteness
    * shape): entities present in `sibling.siblingKey` with no row in
    * `table.tableKey` — e.g. persons with a condition_occurrence but no
    * condition_era.
    */
  final case class SiblingCompletenessRule(name: String, table: String, tableKey: String,
      sibling: String, siblingKey: String)

  /** A plausibleGender rule (CONCEPT level): rows of `table` where
    * `conceptCol` = `conceptValue` must reference (via `fkCol`) a parent
    * whose `parentGenderCol` (as a string) is in `allowed`.
    */
  final case class GenderRule(table: String, conceptCol: String, conceptValue: String,
      fkCol: String, parentGenderCol: String, allowed: Seq[String])

  /** A plausibleUnitConceptIds rule (CONCEPT level, DQD's
    * `plausible_unit_concept_ids.sql`): rows of `table` in the stratum
    * `conceptCol = conceptValue` must carry a `unitCol` value from
    * `allowed`; a NULL unit on a measured concept counts as implausible,
    * matching DQD's treatment of missing units.
    */
  final case class UnitRule(table: String, conceptCol: String, conceptValue: String,
      unitCol: String, allowed: Seq[String])

  /** The full rule configuration of one battery — the analogue of DQD's
    * three config CSVs (Table/Field/Concept_Level) in one place.
    */
  final case class RuleSet(
      bounds: Bounds = Map.empty,
      temporal: Seq[TemporalRule] = Nil,
      startEnd: Seq[StartEndRule] = Nil,
      domains: Seq[DomainRule] = Nil,
      completeness: Seq[CompletenessRule] = Nil,
      thresholds: Thresholds = Map.empty,
      concepts: Seq[ConceptRule] = Nil,
      withinVisit: Seq[WithinVisitRule] = Nil,
      duringLife: Seq[DuringLifeRule] = Nil,
      conceptAttrs: Seq[ConceptAttrRule] = Nil,
      recordCompleteness: Seq[RecordCompletenessRule] = Nil,
      sourceValues: Seq[SourceValueRule] = Nil,
      siblings: Seq[SiblingCompletenessRule] = Nil,
      genders: Seq[GenderRule] = Nil,
      genderDesc: Seq[GenderDescRule] = Nil,
      units: Seq[UnitRule] = Nil)

  // ---------------------------------------------------------------- derive

  /** Derive plausibleStartBeforeEnd pairs from the model's field names:
    * every `X_start_date[time]` with a matching `X_end_date[time]` sibling.
    */
  def startEndRules(model: CdmModel): Seq[StartEndRule] =
    model.tables.flatMap { tb =>
      val cols = model.columns(tb).toSet
      model.columns(tb).collect {
        case f if f.contains("_start_date") && cols.contains(f.replace("_start_", "_end_")) =>
          StartEndRule(tb, f, f.replace("_start_", "_end_"))
      }
    }.sortBy(r => (r.table, r.startField))

  /** Derive measurePersonCompleteness rules: one per table holding an FK
    * named `person_id` (skipping the person table itself).
    */
  def personCompletenessRules(model: CdmModel): Seq[CompletenessRule] =
    model.tables.filter(t => t != "person" && model.fks(t).get("person_id").contains("person"))
      .sorted.map(CompletenessRule(_, "person_id"))

  private def dateFields(model: CdmModel, tb: String): Seq[String] =
    model.sparkSchema(tb).fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.DateType ||
        f.dataType == org.apache.spark.sql.types.TimestampType => f.name
    }.toSeq.filterNot(_.startsWith("valid_"))

  /** Derive plausibleAfterBirth rules: every date/datetime field of every
    * person-child table must not precede person.birth_datetime — DQD
    * instantiates this family over its Field_Level CSV the same way.
    */
  def afterBirthRules(model: CdmModel): Seq[TemporalRule] =
    model.tables.filter(t => t != "person" && model.fks(t).get("person_id").contains("person"))
      .flatMap(tb => dateFields(model, tb).map(f =>
        TemporalRule(tb, f, "person_id", "birth_datetime", name = "plausibleAfterBirth")))
      .sortBy(r => (r.table, r.field))

  /** Derive plausibleDuringLife rules (needs a `death` table keyed by
    * person_id): every date field of every person-child table, graced by
    * DQD's 60 days.
    */
  /** The DQD 2.6 battery's modern name for the duringLife machinery
    * (`plausibleBeforeDeath`, data_quality.py:113's deprecation notice).
    */
  def beforeDeathRules(model: CdmModel): Seq[DuringLifeRule] =
    duringLifeRules(model).map(_.copy(name = "plausibleBeforeDeath"))

  def duringLifeRules(model: CdmModel): Seq[DuringLifeRule] =
    if (!model.tables.contains("death")) Nil
    else model.tables
      .filter(t => t != "person" && t != "death" &&
        model.fks(t).get("person_id").contains("person"))
      .flatMap(tb => dateFields(model, tb).map(f =>
        DuringLifeRule(tb, f, "person_id", "death", "person_id", "death_date")))
      .sortBy(r => (r.table, r.field))

  /** Derive withinVisitDates rules: the event-start date fields of every
    * table with a visit_occurrence FK, against the visit's start/end ± 1
    * day (DQD's window).
    */
  def withinVisitRules(model: CdmModel): Seq[WithinVisitRule] =
    model.tables.filter(t => t != "visit_occurrence" &&
      model.fks(t).get("visit_occurrence_id").contains("visit_occurrence"))
      .flatMap { tb =>
        dateFields(model, tb)
          .filter(f => f.contains("_start_") || !(f.contains("_end_") || f.contains("datetime")))
          .map(f => WithinVisitRule(tb, f, "visit_occurrence_id",
            "visit_start_date", "visit_end_date"))
      }.sortBy(r => (r.table, r.field))

  /** Derive standard/sourceConceptRecordCompleteness rules from the CDM
    * naming convention, the way DQD keys off its Field_Level CSV columns:
    * every `*_concept_id` int64 field (source ones to the source family).
    */
  def recordCompletenessRules(model: CdmModel): Seq[RecordCompletenessRule] =
    model.tables.flatMap { tb =>
      model.sparkSchema(tb).fields.collect {
        case f if f.name.endsWith("_source_concept_id") &&
          f.dataType == org.apache.spark.sql.types.LongType =>
          RecordCompletenessRule("sourceConceptRecordCompleteness", tb, f.name)
        case f if f.name.endsWith("_concept_id") &&
          f.dataType == org.apache.spark.sql.types.LongType =>
          RecordCompletenessRule("standardConceptRecordCompleteness", tb, f.name)
      }
    }.sortBy(r => (r.table, r.field))

  /** Derive sourceValueCompleteness rules: every `X_source_value` field
    * with an `X_concept_id` sibling in the same table.
    */
  def sourceValueRules(model: CdmModel): Seq[SourceValueRule] =
    model.tables.flatMap { tb =>
      val cols = model.columns(tb).toSet
      model.columns(tb).collect {
        case f if f.endsWith("_source_value") &&
          cols.contains(f.stripSuffix("_source_value") + "_concept_id") =>
          SourceValueRule(tb, f, f.stripSuffix("_source_value") + "_concept_id")
      }
    }.sortBy(r => (r.table, r.field))

  /** Derive isStandardValidConcept rules from the model's fkDomains map
    * (the primary concept field of each clinical table) against the
    * vocabulary `concept` table, when the model carries one.
    */
  def standardConceptRules(model: CdmModel): Seq[ConceptAttrRule] =
    if (!model.tables.contains("concept")) Nil
    else model.fkDomains.toSeq.flatMap { case (tb, fields) =>
      fields.keys.map(f => ConceptAttrRule("isStandardValidConcept", tb, f,
        "concept", "concept_id", "standard_concept", Seq("S"),
        invCol = Some("invalid_reason")))
    }.sortBy(r => (r.table, r.field))

  /** `rules` minus every rule naming a table or column `model` lacks —
    * including a parent reached through an FK the model does not declare —
    * so one rule catalog serves any subset of the CDM.
    */
  def restrictTo(model: CdmModel, rules: RuleSet): RuleSet = {
    def has(tb: String, cols: String*): Boolean =
      model.tables.contains(tb) && cols.forall(model.columns(tb).contains)
    def parentHas(tb: String, fkCol: String, cols: String*): Boolean =
      has(tb, fkCol) && model.fks(tb).get(fkCol).exists(has(_, cols: _*))
    rules.copy(
      bounds = rules.bounds.filter { case ((tb, f), _) => has(tb, f) },
      temporal = rules.temporal.filter(r =>
        has(r.table, r.field) && parentHas(r.table, r.fkCol, r.parentField)),
      startEnd = rules.startEnd.filter(r => has(r.table, r.startField, r.endField)),
      domains = rules.domains.filter(r => has(r.table, r.field)),
      completeness = rules.completeness.filter(r =>
        parentHas(r.table, r.fkCol) && model.pk(model.fks(r.table)(r.fkCol)).isDefined),
      thresholds = rules.thresholds.filter { case ((_, tb, _), _) => has(tb) },
      concepts = rules.concepts.filter(r => has(r.table, r.strataCol, r.field)),
      withinVisit = rules.withinVisit.filter(r =>
        has(r.table, r.field) && parentHas(r.table, r.fkCol, r.parentStart, r.parentEnd)),
      duringLife = rules.duringLife.filter(r => has(r.table, r.field, r.fkCol) &&
        has(r.deathTable, r.deathKey, r.deathDateField)),
      conceptAttrs = rules.conceptAttrs.filter(r => has(r.table, r.field) &&
        has(r.conceptTable, r.conceptPk +: r.attrCol +: r.invCol.toSeq: _*)),
      recordCompleteness = rules.recordCompleteness.filter(r => has(r.table, r.field)),
      sourceValues = rules.sourceValues.filter(r => has(r.table, r.field, r.conceptField)),
      siblings = rules.siblings.filter(r =>
        has(r.table, r.tableKey) && has(r.sibling, r.siblingKey)),
      genders = rules.genders.filter(r =>
        has(r.table, r.conceptCol) && parentHas(r.table, r.fkCol, r.parentGenderCol)),
      genderDesc = rules.genderDesc.filter(r => has(r.table, r.conceptCol) &&
        has(r.closureTable, r.ancestorCol, r.descendantCol) &&
        parentHas(r.table, r.fkCol, r.parentGenderCol)),
      units = rules.units.filter(r => has(r.table, r.conceptCol, r.unitCol)))
  }

  // --------------------------------------------------------------- checks

  /** One aggregate, written for the Spark plan and for the DuckDB SQL. */
  private final case class Agg(spark: Column, sql: String)
  private val rows = Agg(count(lit(1)), "count(*)")
  private def rowsWhere(cond: Column, condSql: String) =
    Agg(sum(when(cond, 1L).otherwise(0L)), s"count(*) FILTER (WHERE $condSql)")

  /** How a check is evaluated; each shape carries its violated/denominator
    * pair.
    */
  private sealed trait Eval { def violated: Agg; def denominator: Agg }
  /** Branch A: a sum-style pair in the table's fused pass over the
    * parent-joined table; `onEmpty` is its value over an empty table.
    */
  private final case class Fused(violated: Agg, denominator: Agg,
      onEmpty: (Long, Long) = (0L, 0L)) extends Eval
  /** Branch B: a DISTINCT pair over the narrow projection `reads`. */
  private final case class Distinct(violated: Agg, denominator: Agg,
      reads: Seq[String]) extends Eval
  /** A plan-time constant (`cdmField`): one row of a local relation. */
  private final case class Const(v: Long, d: Long) extends Eval {
    val violated = Agg(lit(v), v.toString)
    val denominator = Agg(lit(d), d.toString)
  }
  /** A cross-table branch: the members of `keys(load)` (column `__p`)
    * without a row in the check's table, over all members.
    */
  private final case class Cross(keys: (String => DataFrame) => DataFrame) extends Eval {
    val violated = rowsWhere(col("__fk").isNull, "c.__fk IS NULL")
    val denominator = rows
  }

  /** Rows of `scope` that are `bad`, over the rows of `scope`. */
  private def share(scope: Column, scopeSql: String, bad: Column, badSql: String) =
    Fused(rowsWhere(scope && bad, s"$scopeSql AND $badSql"), rowsWhere(scope, scopeSql))

  /** A quoted SQL value list. */
  private def sqlList(values: Seq[String]): String =
    values.map(v => s"'${v.replace("'", "''")}'").mkString(", ")

  /** One generated check: its reported metadata, how it is evaluated and
    * the FROM clause of its rendered SQL.
    */
  private final case class Check(name: String, level: String, category: String,
      table: String, field: String, eval: Eval, from: String, idTail: Seq[String] = Nil) {
    /** The LITERAL OHDSI DQD check id
      * (`/root/reference/src/riab/etl/data_quality.py:420-430`
      * `_get_check_id`): `checkLevel.lower()` + `checkName.lower()` +
      * `cdmTableName.lower()` [+ field] [+ conceptId] [+ unitConceptId],
      * underscore-joined — so stored results are keyed exactly like rows
      * produced by DataQualityDashboard and downstream OHDSI tooling can
      * consume them. `idTail` holds a CONCEPT check's concept id and, for
      * unit checks, the allowed unit list the way the DQD threshold CSV's
      * `unitConceptIds` cell renders (space-joined, then
      * lowercased/underscored).
      */
    def id: String =
      (Seq(level, name, table) ++ Seq(field).filter(_.nonEmpty) ++ idTail)
        .map(_.toLowerCase).mkString("_")
  }

  /** Every per-scan check of one table. Branch-A checks reference the
    * `__tp_*` / `__dl_*` / `__ca_*` / `__gd_*` columns [[fieldLevel]]
    * attaches by left-joining parents on unique keys; branch-B (distinct)
    * checks read the raw table only. The SQL side joins the same parents
    * as `p` (and the descendant set as `d`) to the table as `s`.
    */
  private def tableChecks(model: CdmModel, table: String, rules: RuleSet,
      actualCols: Option[Set[String]]): Seq[Check] = {
    def check(name: String, level: String, category: String, field: String, eval: Eval,
        from: String = table, idTail: Seq[String] = Nil) =
      Check(name, level, category, table, field, eval, from, idTail)
    /** `table s`, then `joins`, then its FK parent's distinct key `p.__pk`
      * and `pulls`.
      */
    def parentJoin(fkCol: String, pulls: Seq[String], joins: String = ""): String = {
      val parent = model.fks(table)(fkCol)
      val pk = model.pk(parent).getOrElse(
        throw new IllegalStateException(s"fk target $parent has no pk"))
      s"$table s$joins LEFT JOIN (SELECT DISTINCT ${(s"$pk AS __pk" +: pulls).mkString(", ")} " +
        s"FROM $parent) p ON s.$fkCol = p.__pk"
    }
    val fields = model.sparkSchema(table).fields.toSeq
    // count(*)*0+1 instead of a bare literal: stays an aggregate expression
    // and still yields 1 on an empty table (where min/max would be NULL)
    val presence = check("cdmTable", "TABLE", "Conformance", "",
      Fused(Agg(when(count(lit(1)) === 0, lit(1L)).otherwise(lit(0L)),
        "CASE WHEN count(*) = 0 THEN 1 ELSE 0 END"),
        Agg(count(lit(1)) * lit(0L) + lit(1L), "1"), onEmpty = (1L, 1L)))
    val fieldPresence = fields.map { sf =>
      val missing = actualCols.exists(cols => !cols.contains(sf.name))
      check("cdmField", "FIELD", "Conformance", sf.name,
        Const(if (missing) 1L else 0L, 1L), "(SELECT 1) AS __dual")
    }
    def nulls(name: String, f: String) = check(name, "FIELD", "Completeness", f,
      Fused(rowsWhere(col(f).isNull, s"$f IS NULL"), rows))
    val required = model.requiredColumns(table).map(nulls("isRequired", _))
    val valueCompleteness = fields.collect {
      case sf if !model.requiredColumns(table).contains(sf.name) =>
        nulls("measureValueCompleteness", sf.name)
    }
    val datatype = fields.collect {
      case sf if sf.dataType == org.apache.spark.sql.types.LongType =>
        val f = sf.name
        check("cdmDatatype", "FIELD", "Conformance", f, Fused(rowsWhere(
          col(f).isNotNull && !col(f).cast("string").rlike(IntRegex),
          s"$f IS NOT NULL AND NOT regexp_matches(CAST($f AS VARCHAR), '$IntRegex')"), rows))
    }
    // isPrimaryKey is a DISTINCT aggregate -> branch B, so the main pass
    // plans no Expand
    val pk = model.pk(table).toSeq.map { p =>
      check("isPrimaryKey", "FIELD", "Conformance", p, Distinct(
        Agg(count(lit(1)) - countDistinct(col(p)), s"count(*) - count(DISTINCT $p)"),
        rows, Seq(p)))
    }
    val fk = model.fks(table).keys.toSeq.sorted.map { fkCol =>
      check("isForeignKey", "FIELD", "Conformance", fkCol,
        share(col(fkCol).isNotNull, s"s.$fkCol IS NOT NULL",
          col(s"__pk_$fkCol").isNull, "p.__pk IS NULL"),
        parentJoin(fkCol, Nil))
    }
    val plausible = rules.bounds.toSeq.sortBy(_._1).collect {
      case ((t, f), (lo, hi)) if t == table =>
        def bound(name: String, b: Double, cond: Column, op: String) =
          check(name, "FIELD", "Plausibility", f, Fused(rowsWhere(cond, s"$f $op $b"), rows))
        lo.toSeq.map(b => bound("plausibleValueLow", b, col(f) < b, "<")) ++
          hi.toSeq.map(b => bound("plausibleValueHigh", b, col(f) > b, ">"))
    }.flatten
    val temporalChecks = rules.temporal.filter(_.table == table)
      .sortBy(r => (r.name, r.field)).map { r =>
        val (f, tp) = (col(r.field), col(s"__tp_${r.fkCol}_${r.parentField}"))
        check(r.name, "FIELD", "Plausibility", r.field,
          share(f.isNotNull && tp.isNotNull, s"s.${r.field} IS NOT NULL AND p.__tp IS NOT NULL",
            f < tp, s"s.${r.field} < p.__tp"),
          parentJoin(r.fkCol, Seq(s"${r.parentField} AS __tp")))
      }
    val startBeforeEnd = rules.startEnd.filter(_.table == table).sortBy(_.startField).map { r =>
      val (s, e) = (col(r.startField), col(r.endField))
      check("plausibleStartBeforeEnd", "FIELD", "Plausibility", r.startField,
        share(s.isNotNull && e.isNotNull, s"${r.startField} IS NOT NULL AND ${r.endField} IS NOT NULL",
          s > e, s"${r.startField} > ${r.endField}"))
    }
    val domainChecks = rules.domains.filter(_.table == table).sortBy(_.field).map { r =>
      check("fkDomain", "FIELD", "Conformance", r.field,
        share(col(r.field).isNotNull, s"${r.field} IS NOT NULL",
          !col(r.field).isin(r.allowed: _*), s"${r.field} NOT IN (${sqlList(r.allowed)})"))
    }
    val conceptChecks = rules.concepts.filter(_.table == table)
      .sortBy(r => (r.field, r.strataValue)).flatMap { r =>
        def bound(name: String, b: Double, cond: Column, op: String) =
          check(name, "CONCEPT", "Plausibility", r.field,
            share(col(r.strataCol) === r.strataValue && col(r.field).isNotNull,
              s"${r.strataCol} = '${r.strataValue}' AND ${r.field} IS NOT NULL",
              cond, s"${r.field} $op $b"),
            idTail = Seq(r.strataValue))
        r.lo.toSeq.map(b => bound("plausibleValueLow", b, col(r.field) < b, "<")) ++
          r.hi.toSeq.map(b => bound("plausibleValueHigh", b, col(r.field) > b, ">"))
      }
    val withinVisitChecks = rules.withinVisit.filter(_.table == table).sortBy(_.field).map { r =>
      val f = col(r.field)
      val vs = col(s"__tp_${r.fkCol}_${r.parentStart}")
      val ve = col(s"__tp_${r.fkCol}_${r.parentEnd}")
      val (slack, d) = (expr(s"INTERVAL ${r.slackDays} DAY"), s"INTERVAL ${r.slackDays} DAY")
      check("withinVisitDates", "FIELD", "Plausibility", r.field,
        share(f.isNotNull && vs.isNotNull && ve.isNotNull,
          s"s.${r.field} IS NOT NULL AND p.__vs IS NOT NULL AND p.__ve IS NOT NULL",
          f < vs - slack || f > ve + slack,
          s"(s.${r.field} < p.__vs - $d OR s.${r.field} > p.__ve + $d)"),
        parentJoin(r.fkCol, Seq(s"${r.parentStart} AS __vs", s"${r.parentEnd} AS __ve")))
    }
    val duringLifeChecks = rules.duringLife.filter(_.table == table).sortBy(_.field).map { r =>
      val (f, dd) = (col(r.field), col(s"__dl_dt_${r.fkCol}"))
      check(r.name, "FIELD", "Plausibility", r.field,
        share(f.isNotNull && dd.isNotNull, s"s.${r.field} IS NOT NULL AND p.__dd IS NOT NULL",
          f > dd + expr(s"INTERVAL ${r.graceDays} DAY"),
          s"s.${r.field} > p.__dd + INTERVAL ${r.graceDays} DAY"),
        s"$table s LEFT JOIN (SELECT ${r.deathKey} AS __pk, min(${r.deathDateField}) AS __dd " +
          s"FROM ${r.deathTable} GROUP BY 1) p ON s.${r.fkCol} = p.__pk")
    }
    val conceptAttrChecks = rules.conceptAttrs.filter(_.table == table)
      .sortBy(r => (r.name, r.field)).map { r =>
        val f = col(r.field)
        val a = col(s"__ca_${r.field}_${r.attrCol}").cast("string")
        val okAttr = r.invCol.map(ic => a.isin(r.allowed: _*) &&
          col(s"__ca_${r.field}_$ic").isNull).getOrElse(a.isin(r.allowed: _*))
        val okSql = s"CAST(p.__${r.attrCol} AS VARCHAR) IN (${sqlList(r.allowed)})" +
          r.invCol.map(ic => s" AND p.__$ic IS NULL").getOrElse("")
        val attrs = (r.attrCol +: r.invCol.toSeq).map(a => s"max($a) AS __$a").mkString(", ")
        check(r.name, "FIELD", "Conformance", r.field,
          share(if (r.excludeZero) f.isNotNull && f =!= 0 else f.isNotNull,
            s"s.${r.field} IS NOT NULL" + (if (r.excludeZero) s" AND s.${r.field} != 0" else ""),
            !coalesce(okAttr, lit(false)), s"NOT coalesce($okSql, false)"),
          s"$table s LEFT JOIN (SELECT ${r.conceptPk} AS __pk, $attrs FROM ${r.conceptTable} " +
            s"GROUP BY 1) p ON s.${r.field} = p.__pk")
      }
    val recordChecks = rules.recordCompleteness.filter(_.table == table)
      .sortBy(r => (r.name, r.field)).map { r =>
        check(r.name, "FIELD", "Completeness", r.field, Fused(rowsWhere(
          col(r.field).isNotNull && col(r.field) === 0, s"${r.field} = 0"), rows))
      }
    val sourceValueChecks = rules.sourceValues.filter(_.table == table).sortBy(_.field).map { r =>
      check("sourceValueCompleteness", "FIELD", "Completeness", r.field, Distinct(
        Agg(countDistinct(when(col(r.conceptField) === 0, col(r.field))),
          s"count(DISTINCT CASE WHEN ${r.conceptField} = 0 THEN ${r.field} END)"),
        Agg(countDistinct(col(r.field)), s"count(DISTINCT ${r.field})"),
        Seq(r.field, r.conceptField)))
    }
    val unitChecks = rules.units.filter(_.table == table)
      .sortBy(r => (r.unitCol, r.conceptValue)).map { r =>
        val u = col(r.unitCol).cast("string")
        check("plausibleUnitConceptIds", "CONCEPT", "Plausibility", r.unitCol,
          share(col(r.conceptCol) === r.conceptValue, s"${r.conceptCol} = '${r.conceptValue}'",
            u.isNull || !u.isin(r.allowed: _*),
            s"(${r.unitCol} IS NULL OR CAST(${r.unitCol} AS VARCHAR) NOT IN (${sqlList(r.allowed)}))"),
          idTail = Seq(r.conceptValue, r.allowed.mkString("_")))
      }
    // the person parent's gender outside `allowed`, within a stratum
    def gender(name: String, conceptCol: String, stratum: Column, stratumSql: String,
        fkCol: String, genderCol: String, allowed: Seq[String], idValue: String,
        joins: String = "") = {
      val g = col(s"__tp_${fkCol}_$genderCol").cast("string")
      check(name, "CONCEPT", "Plausibility", conceptCol,
        share(stratum && g.isNotNull, s"$stratumSql AND p.__g IS NOT NULL",
          !g.isin(allowed: _*), s"CAST(p.__g AS VARCHAR) NOT IN (${sqlList(allowed)})"),
        parentJoin(fkCol, Seq(s"$genderCol AS __g"), joins), Seq(idValue))
    }
    val genderChecks = rules.genders.filter(_.table == table)
      .sortBy(r => (r.conceptCol, r.conceptValue)).map { r =>
        gender("plausibleGender", r.conceptCol, col(r.conceptCol) === r.conceptValue,
          s"s.${r.conceptCol} = '${r.conceptValue}'", r.fkCol, r.parentGenderCol, r.allowed,
          r.conceptValue)
      }
    val genderDescChecks = rules.genderDesc.filter(_.table == table)
      .sortBy(r => (r.conceptCol, r.ancestorValue)).map { r =>
        gender("plausibleGenderUseDescendants", r.conceptCol,
          col(s"__gd_${r.conceptCol}_${r.ancestorValue}").isNotNull, "d.__desc IS NOT NULL",
          r.fkCol, r.parentGenderCol, r.allowed, r.ancestorValue,
          s" LEFT JOIN (SELECT DISTINCT ${r.descendantCol} AS __desc FROM ${r.closureTable} " +
            s"WHERE CAST(${r.ancestorCol} AS VARCHAR) = '${r.ancestorValue}') " +
            s"d ON s.${r.conceptCol} = d.__desc")
      }
    presence +: (fieldPresence ++ required ++ valueCompleteness ++ datatype ++
      pk ++ fk ++ plausible ++ temporalChecks ++ startBeforeEnd ++ domainChecks ++
      conceptChecks ++ withinVisitChecks ++ duringLifeChecks ++ conceptAttrChecks ++
      recordChecks ++ sourceValueChecks ++ unitChecks ++ genderChecks ++
      genderDescChecks)
  }

  /** TABLE-level checks whose scan runs over a DIFFERENT table than the one
    * they report on: measurePersonCompleteness (parents with no child row)
    * and the sibling-completeness family (sibling entities with no row).
    */
  private def crossTableChecks(model: CdmModel, rules: RuleSet): Seq[Check] = {
    def check(name: String, table: String, key: String,
        keys: (String => DataFrame) => DataFrame, keysSql: String, on: String) =
      Check(name, "TABLE", "Completeness", table, key, Cross(keys),
        s"$keysSql p LEFT JOIN (SELECT DISTINCT $key AS __fk FROM $table " +
          s"WHERE $key IS NOT NULL) c ON $on = c.__fk")
    val personCompleteness = rules.completeness.sortBy(r => (r.table, r.fkCol)).map { r =>
      val parent = model.fks(r.table).getOrElse(r.fkCol,
        throw new IllegalArgumentException(s"${r.table}.${r.fkCol} is not an FK"))
      val parentPk = model.pk(parent).getOrElse(
        throw new IllegalStateException(s"completeness parent $parent has no pk"))
      check("measurePersonCompleteness", r.table, r.fkCol,
        _(parent).select(col(parentPk).as("__p")), parent, s"p.$parentPk")
    }
    val siblingCompleteness = rules.siblings.sortBy(r => (r.name, r.table)).map { r =>
      check(r.name, r.table, r.tableKey,
        _(r.sibling).select(col(r.siblingKey).as("__p")).where(col("__p").isNotNull).distinct(),
        s"(SELECT DISTINCT ${r.siblingKey} AS __p FROM ${r.sibling} " +
          s"WHERE ${r.siblingKey} IS NOT NULL)", "p.__p")
    }
    personCompleteness ++ siblingCompleteness
  }

  /** The whole battery's checks, table by table, then the cross-table ones;
    * `actualCols` gives a table's loaded columns for `cdmField`.
    */
  private def battery(model: CdmModel, rules: RuleSet,
      actualCols: String => Option[Set[String]] = _ => None): Seq[Check] =
    model.tables.flatMap(tb => tableChecks(model, tb, rules, actualCols(tb))) ++
      crossTableChecks(model, rules)

  private def threshold(rules: RuleSet, c: Check): Double =
    rules.thresholds.getOrElse((c.name, c.table, c.field), 0.0)
  /** Cohort-scope a table loader — the reference's optional
    * `cohort_definition_id` restriction (`data_quality.py:49,268`; the
    * published DQD SQL joins every checked CDM table to
    * `cohort ON person_id = subject_id AND cohort_definition_id = @id`).
    * Every person-keyed table is SEMI-joined to the cohort's subject set
    * before any check aggregate sees it; tables without a `person_id`
    * column (vocabulary/dimension tables) pass through unscoped, exactly
    * as the published templates only guard person-keyed scans. The member
    * frame broadcasts — a cohort is bounded study metadata, never
    * fact-scale — so scoping adds zero shuffles to the fused battery.
    */
  def cohortScoped(load: String => DataFrame, cohort: DataFrame,
      cohortDefinitionId: Long): String => DataFrame = {
    val members = broadcast(
      cohort.filter(col("cohort_definition_id") === cohortDefinitionId)
        .select(col("subject_id").as("person_id")).distinct())
    tb => {
      val df = load(tb)
      if (df.columns.contains("person_id"))
        df.join(members, Seq("person_id"), "left_semi")
      else df
    }
  }

  /** The full generated battery as one DataFrame plan. */
  def fieldLevel(model: CdmModel, load: String => DataFrame,
      rules: RuleSet = RuleSet()): DataFrame = {
    val (counts, thrDf) = countsAndThresholds(model, load, rules)
    shapeBattery(counts, thrDf)
  }

  /** The battery's raw per-check COUNT rows (check meta +
    * num_violated_rows/num_denominator_rows), before threshold shaping —
    * the slice-decomposable summary [[mergeBatteryCounts]] merges.
    */
  def fieldLevelCounts(model: CdmModel, load: String => DataFrame,
      rules: RuleSet = RuleSet()): DataFrame =
    countsAndThresholds(model, load, rules)._1

  /** The broadcastable (check_id, threshold_value) lookup for
    * [[shapeBattery]] — metadata-only (reads schemas, never data).
    */
  def batteryThresholds(model: CdmModel, load: String => DataFrame,
      rules: RuleSet = RuleSet()): DataFrame =
    countsAndThresholds(model, load, rules)._2

  /** Merge battery COUNT partials computed over DISJOINT slices of the
    * data into the counts the full-scan battery would produce:
    * `cdmTable` is empty iff empty in EVERY slice (min viol / max denom);
    * `cdmField` is plan-constant (max / max); every other field-level
    * check is a row-level count (sum / sum). NOT slice-decomposable and
    * therefore the CALLER'S responsibility to exclude and re-derive from
    * state: the DISTINCT-aggregate checks (`isPrimaryKey`,
    * `sourceValueCompleteness` — a key seen in two slices double-counts)
    * and the cross-table checks (they join a second table). See
    * stream_dqd_runs' pk-state derivation for the pattern.
    */
  val NonDecomposableChecks: Set[String] =
    Set("isPrimaryKey", "sourceValueCompleteness",
      "measurePersonCompleteness", "measureConditionEraCompleteness")
  def mergeBatteryCounts(parts: Seq[DataFrame]): DataFrame = {
    val meta = Seq("check_id", "check_name", "check_level", "category",
      "cdm_table_name", "cdm_field_name")
    val v = col("num_violated_rows")
    val dn = col("num_denominator_rows")
    parts.reduce(_ unionByName _)
      .groupBy(meta.map(col): _*)
      .agg(sum(v).as("__vs"), min(v).as("__vm"), max(v).as("__vx"),
        sum(dn).as("__ds"), max(dn).as("__dx"))
      .select(meta.map(col) ++ Seq(
        when(col("check_name") === "cdmTable", col("__vm"))
          .when(col("check_name") === "cdmField", col("__vx"))
          .otherwise(col("__vs")).as("num_violated_rows"),
        when(col("check_name").isin("cdmTable", "cdmField"), col("__dx"))
          .otherwise(col("__ds")).as("num_denominator_rows")): _*)
  }

  /** Threshold-join + pct/failed shaping shared by the full battery and
    * every partial-merge consumer — ONE shaping, so the incremental and
    * full contracts cannot fork (the AchillesGen.mergeCountPartials rule).
    */
  def shapeBattery(counts: DataFrame, thrDf: DataFrame): DataFrame = {
    val viol = coalesce(col("num_violated_rows"), lit(0L))
    val denom = coalesce(col("num_denominator_rows"), lit(0L))
    val pct = viol.cast("double") / greatest(denom, lit(1L))
    counts
      .join(broadcast(thrDf), Seq("check_id"))
      .select(
        col("check_id"), col("check_name"), col("check_level"), col("category"),
        col("cdm_table_name"), col("cdm_field_name"),
        viol.as("num_violated_rows"),
        denom.as("num_denominator_rows"),
        // micro-quantized pct presentation + quantized threshold compare
        // (floor(x*1e6+0.5) both sides; engine round()/raw-double compares
        // differ at representation boundaries — the r10 sweep)
        graft.ops.SimOps.roundUnits(pct, 1e6).as("pct_violated_rows"),
        col("threshold_value"),
        when(graft.ops.SimOps.quantMicro(pct * 100)
            > graft.ops.SimOps.quantMicro(col("threshold_value")), 1L)
          .otherwise(0L).as("failed"))
  }

  private def countsAndThresholds(model: CdmModel, load: String => DataFrame,
      rules: RuleSet): (DataFrame, DataFrame) = {
    val checks = battery(model, rules, tb => Some(load(tb).columns.toSet))
    val perTable = model.tables.flatMap { tb =>
      val own = checks.filter(_.table == tb)
      // parent-attr pulls through the FK joins: temporal/afterBirth dates,
      // visit windows, gender attributes — all deduped per (fkCol, column)
      val fkPulls: Map[String, Seq[String]] = {
        val t = rules.temporal.filter(_.table == tb).map(r => r.fkCol -> r.parentField)
        val w = rules.withinVisit.filter(_.table == tb)
          .flatMap(r => Seq(r.fkCol -> r.parentStart, r.fkCol -> r.parentEnd))
        val g = rules.genders.filter(_.table == tb).map(r => r.fkCol -> r.parentGenderCol)
        val gd = rules.genderDesc.filter(_.table == tb).map(r => r.fkCol -> r.parentGenderCol)
        (t ++ w ++ g ++ gd).distinct.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
      }
      // (1) FK parents: left joins on distinct unique PKs preserve
      // cardinality, so the shared aggregate is exact
      val fkJoined = model.fks(tb).toSeq.sortBy(_._1).foldLeft(load(tb)) {
        case (df, (fkCol, parent)) =>
          val parentPk = model.pk(parent).get
          val attrCols = fkPulls.getOrElse(fkCol, Nil).map(a =>
            col(a).as(s"__tp_${fkCol}_$a"))
          val p = load(parent)
            .select(col(parentPk).as(s"__pk_$fkCol") +: attrCols: _*).distinct()
          df.join(p, df(fkCol) === p(s"__pk_$fkCol"), "left")
      }
      // (2) duringLife death-table joins: aggregated to one row per key so
      // the join cannot multiply
      val dlJoined = rules.duringLife.filter(_.table == tb)
        .map(r => (r.fkCol, r.deathTable, r.deathKey, r.deathDateField)).distinct
        .foldLeft(fkJoined) { case (df, (fkCol, dTb, dKey, dDate)) =>
          val d = load(dTb).groupBy(col(dKey).as(s"__dl_pk_$fkCol"))
            .agg(min(col(dDate)).as(s"__dl_dt_$fkCol"))
          df.join(d, df(fkCol) === d(s"__dl_pk_$fkCol"), "left")
        }
      // (3) concept-attribute joins: one per checked field, attrs unioned
      // across rules, aggregated to one row per concept id
      val caJoined = {
        val byField = rules.conceptAttrs.filter(_.table == tb)
          .groupBy(r => (r.field, r.conceptTable, r.conceptPk)).toSeq.sortBy(_._1)
        byField.foldLeft(dlJoined) { case (df, ((field, cTb, cPk), rs)) =>
          val attrs = rs.flatMap(r => r.attrCol +: r.invCol.toSeq).distinct
          val c = load(cTb).groupBy(col(cPk).as(s"__ca_pk_$field"))
            .agg(attrs.map(a => max(col(a)).as(s"__ca_${field}_$a")).head,
              attrs.map(a => max(col(a)).as(s"__ca_${field}_$a")).tail: _*)
          df.join(c, df(field) === c(s"__ca_pk_$field"), "left")
        }
      }
      // (4) descendant-set membership joins: the closure restricted to one
      // ancestor, deduped to one row per descendant id (so the left join
      // cannot multiply), flagging in-stratum rows for the
      // plausibleGenderUseDescendants checks
      val gdJoined = rules.genderDesc.filter(_.table == tb)
        .map(r => (r.conceptCol, r.closureTable, r.ancestorCol,
          r.descendantCol, r.ancestorValue))
        .distinct.sortBy(t => (t._1, t._5))
        .foldLeft(caJoined) { case (df, (cc, aTb, aCol, dCol, anc)) =>
          val d = load(aTb)
            .filter(col(aCol).cast("string") === anc)
            .select(col(dCol).as(s"__gd_pk_${cc}_$anc")).distinct()
            .withColumn(s"__gd_${cc}_$anc", lit(1))
          df.join(d, df(cc) === d(s"__gd_pk_${cc}_$anc"), "left")
        }
      val branchA = aggregated(gdJoined, own.filter(_.eval.isInstanceOf[Fused]))
      // branch B: the distinct-style checks over a NARROW projection — the
      // multi-distinct Expand only ever sees the key/source columns
      val reads = own.map(_.eval).collect { case d: Distinct => d.reads }.flatten.distinct
      val branchB = if (reads.isEmpty) Nil else Seq(aggregated(
        load(tb).select(reads.map(col): _*), own.filter(_.eval.isInstanceOf[Distinct])))
      branchA +: branchB
    }
    // the plan-time-constant checks land as ONE local relation
    val session = load(model.tables.head).sparkSession
    import session.implicits._
    val constDf = checks.map(c => (c, c.eval)).collect { case (c, Const(v, d)) =>
      (c.id, c.name, c.level, c.category, c.table, c.field, v, d)
    }.toDF("check_id", "check_name", "check_level", "category",
      "cdm_table_name", "cdm_field_name", "num_violated_rows", "num_denominator_rows")
    // cross-table completeness: one branch per rule — the parent (or
    // sibling) distinct-key set left-joined to the table's distinct keys,
    // both aggregates in the same pass
    val crossDfs = checks.map(c => (c, c.eval)).collect { case (c, x: Cross) =>
      val keys = x.keys(load)
      val childFks = load(c.table)
        .select(col(c.field).as("__fk")).where(col("__fk").isNotNull).distinct()
      keys
        .join(childFks, col("__p") === col("__fk"), "left")
        .agg(x.violated.spark.as("num_violated_rows"), x.denominator.spark.as("num_denominator_rows"))
        .select(meta(c) ++ Seq(
          col("num_violated_rows").cast("long"), col("num_denominator_rows").cast("long")): _*)
    }
    // per-check thresholds ride a broadcast lookup keyed by check id
    val thrDf = checks.map(c => (c.id, threshold(rules, c))).toDF("check_id", "threshold_value")
    (graft.Unions.balanced(perTable ++ crossDfs :+ constDf), thrDf)
  }

  /** The reported metadata columns of a check. */
  private def meta(c: Check): Seq[Column] = Seq(
    lit(c.id).as("check_id"), lit(c.name).as("check_name"),
    lit(c.level).as("check_level"), lit(c.category).as("category"),
    lit(c.table).as("cdm_table_name"), lit(c.field).as("cdm_field_name"))

  /** Every check's violated/denominator pair in ONE aggregate over `df`,
    * exploded to one count row per check.
    */
  private def aggregated(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val aggs = checks.zipWithIndex.flatMap { case (c, i) =>
      Seq(c.eval.violated.spark.as(s"__v$i"), c.eval.denominator.spark.as(s"__d$i"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(checks.zipWithIndex.map { case (c, i) =>
        struct(meta(c) ++ Seq(
          col(s"__v$i").cast("long").as("num_violated_rows"),
          col(s"__d$i").cast("long").as("num_denominator_rows")): _*)
      }: _*)).as("c"))
      .select("c.*")
  }
  /** One incremental continuous-DQD micro-batch over a SINGLE-TABLE model:
    * compute the battery count partials over the BATCH only, merge them
    * into the stored per-check counts (`work/counts`, one bounded row per
    * check), refresh the keyed pk state (`work/pk_state` — the distinct
    * aggregate's streaming state), shape with the shared [[shapeBattery]],
    * and record a run. Per-batch work is O(batch) for every
    * slice-decomposable check plus a narrow (key, cnt) groupBy-sum for the
    * pk check — never a rescan of the accumulated stream. Shared by
    * stream_dqd_runs and the flat-cost soak.
    */
  def incrementalBatch(s: org.apache.spark.sql.SparkSession,
      zones: graft.io.Zones, model: CdmModel, thrDf: DataFrame,
      batch: DataFrame): Long = {
    val table = model.tables.head
    val batchCounts = fieldLevelCounts(model, _ => batch).localCheckpoint(true)
    // every non-decomposable check EXCEPT isPrimaryKey (re-derived from
    // keyed state below) would otherwise vanish silently from every
    // recorded run — fail loudly instead of dropping check rows
    val unhandled = batchCounts
      .filter(col("check_name").isin((NonDecomposableChecks - "isPrimaryKey").toSeq: _*))
      .select("check_name").distinct().limit(1).collect()
    require(unhandled.isEmpty,
      s"incrementalBatch cannot slice-merge non-decomposable check '${unhandled.headOption.map(_.getString(0)).getOrElse("")}' " +
        "for this model; re-derive it from keyed state (the pk_state pattern) before streaming")
    val decomposable =
      batchCounts.filter(!col("check_name").isin(NonDecomposableChecks.toSeq: _*))
    val merged =
      if (zones.listTables(s, "work").contains("counts"))
        mergeBatteryCounts(Seq(zones.read(s, "work", "counts"), decomposable))
      else decomposable
    // bounded report (one row per check) — one output file, not one per
    // shuffle partition
    zones.write(merged.coalesce(1), "work", "counts")
    val pkRows = model.pk(table).toSeq.map { pkCol =>
      val batchPk = batch.groupBy(col(pkCol).as("__k")).agg(count(lit(1)).as("cnt"))
      val pkState =
        if (zones.listTables(s, "work").contains("pk_state"))
          zones.read(s, "work", "pk_state").unionByName(batchPk)
            .groupBy("__k").agg(sum(col("cnt")).as("cnt"))
        else batchPk
      zones.write(pkState, "work", "pk_state")
      batchCounts
        .filter(col("check_name") === "isPrimaryKey")
        .drop("num_violated_rows", "num_denominator_rows")
        .crossJoin(broadcast(zones.read(s, "work", "pk_state").agg(
          (sum(col("cnt")) - count(lit(1))).cast("long").as("num_violated_rows"),
          sum(col("cnt")).cast("long").as("num_denominator_rows"))))
    }
    val battery = shapeBattery(
      pkRows.foldLeft(zones.read(s, "work", "counts"))(_ unionByName _), thrDf)
    recordRun(s, zones, battery)
  }

  /** Run-history store — the reference's `dqdashboard_runs` /
    * `dqdashboard_results` pair (`get_last_dqd_runs.sql.jinja`,
    * `get_dqd_run.sql.jinja`, `get_dqd_run_results.sql.jinja`): every run
    * appends one summary row keyed by a monotonically increasing run id
    * and stores its full result rows under `dqd_results_run_<id>`. All
    * frames are bounded reports (one row per check / per run), so the
    * read-union-write of the runs table costs nothing at any data scale.
    * Returns the new run id.
    */
  def recordRun(s: org.apache.spark.sql.SparkSession, zones: graft.io.Zones,
      results: DataFrame, timestamp: Option[String] = None): Long = {
    val prev =
      if (zones.listTables(s, "dqd").contains("dqd_runs"))
        Some(zones.read(s, "dqd", "dqd_runs"))
      else None
    // max(run_id)+1, not count()+1: a deleted run row (or any future
    // compaction) must never mint a duplicate id that silently overwrites
    // another run's results table. NOT safe for concurrent writers to one
    // zone — the read-increment-write is unsynchronized by design (the
    // reference's dashboard store has the same single-writer contract).
    val runId = prev
      .map(_.agg(max(col("run_id"))).head().getLong(0))
      .getOrElse(0L) + 1
    zones.write(results, "dqd", s"dqd_results_run_$runId")
    // overview reads the JUST-WRITTEN table, not the caller's plan — the
    // caller may hand an unmaterialized battery, and re-running it for
    // one summary row would double the whole battery's cost
    val stored = zones.read(s, "dqd", s"dqd_results_run_$runId")
    val row = overview(stored.drop("run_timestamp"))
      .select(lit(runId).as("run_id"),
        lit(timestamp.orNull).cast("string").as("run_timestamp"),
        col("*"))
    zones.write(prev.map(p => p.unionByName(row)).getOrElse(row), "dqd", "dqd_runs")
    runId
  }

  /** The last `n` runs, newest first (the reference's
    * `get_last_dqd_runs.sql.jinja` LIMIT 15 listing).
    */
  def lastRuns(s: org.apache.spark.sql.SparkSession, zones: graft.io.Zones,
      n: Int = 15): DataFrame =
    zones.read(s, "dqd", "dqd_runs").orderBy(col("run_id").desc).limit(n)

  /** One stored run's full results (`get_dqd_run_results.sql.jinja`). */
  def runResults(s: org.apache.spark.sql.SparkSession, zones: graft.io.Zones,
      runId: Long): DataFrame =
    zones.read(s, "dqd", s"dqd_results_run_$runId")

  /** The run-level Overview the reference computes from the check results
    * (`data_quality.py:280-320`).
    */
  def overview(results: DataFrame): DataFrame = {
    val total = count(lit(1))
    val failed = sum(col("failed"))
    def catTotal(c: String) = sum(when(col("category") === c, 1L).otherwise(0L))
    def catFailed(c: String) =
      sum(when(col("category") === c && col("failed") === 1, 1L).otherwise(0L))
    results.agg(
      total.as("count_total"),
      failed.as("count_overall_failed"),
      (total - failed).as("count_passed"),
      catTotal("Plausibility").as("count_total_plausibility"),
      catTotal("Conformance").as("count_total_conformance"),
      catTotal("Completeness").as("count_total_completeness"),
      catFailed("Plausibility").as("count_failed_plausibility"),
      catFailed("Conformance").as("count_failed_conformance"),
      catFailed("Completeness").as("count_failed_completeness"),
      graft.ops.SimOps.roundUnits((total - failed) * lit(100.0) / total, 1e2)
        .as("percent_passed"))
  }

  /** DuckDB rendering of [[overview]] over the rendered battery oracle. */
  def overviewOracleSql(batterySql: String): String =
    s"""WITH battery AS (
       |$batterySql
       |)
       |SELECT CAST(count(*) AS BIGINT) AS count_total,
       |  CAST(sum(failed) AS BIGINT) AS count_overall_failed,
       |  CAST(count(*) - sum(failed) AS BIGINT) AS count_passed,
       |  CAST(count(*) FILTER (WHERE category = 'Plausibility') AS BIGINT) AS count_total_plausibility,
       |  CAST(count(*) FILTER (WHERE category = 'Conformance') AS BIGINT) AS count_total_conformance,
       |  CAST(count(*) FILTER (WHERE category = 'Completeness') AS BIGINT) AS count_total_completeness,
       |  CAST(count(*) FILTER (WHERE category = 'Plausibility' AND failed = 1) AS BIGINT) AS count_failed_plausibility,
       |  CAST(count(*) FILTER (WHERE category = 'Conformance' AND failed = 1) AS BIGINT) AS count_failed_conformance,
       |  CAST(count(*) FILTER (WHERE category = 'Completeness' AND failed = 1) AS BIGINT) AS count_failed_completeness,
       |  floor((count(*) - sum(failed)) * 100.0 / count(*) * 1e2 + 0.5) / 1e2 AS percent_passed
       |FROM battery""".stripMargin

  /** (check_id, query_text) for every check of a battery — joined into the
    * stored results so each row carries its own rendered query (the
    * reference's result rows carry the rendered check SQL,
    * `data_quality_dashboard.py:358-367`), and the per-check SELECTs of
    * [[oracleSql]].
    */
  def queryTexts(model: CdmModel, rules: RuleSet = RuleSet()): Seq[(String, String)] =
    battery(model, rules).map { c =>
      c.id ->
        s"""SELECT '${c.id}' AS check_id, '${c.name}' AS check_name, '${c.level}' AS check_level,
           |  '${c.category}' AS category, '${c.table}' AS cdm_table_name, '${c.field}' AS cdm_field_name,
           |  CAST(${c.eval.violated.sql} AS BIGINT) AS num_violated_rows,
           |  CAST(${c.eval.denominator.sql} AS BIGINT) AS num_denominator_rows,
           |  CAST(${threshold(rules, c)} AS DOUBLE) AS threshold_value
           |FROM ${c.from}""".stripMargin
    }

  /** The same battery rendered as DuckDB SQL from the same checks. */
  def oracleSql(model: CdmModel, rules: RuleSet = RuleSet()): String =
    s"""WITH checks AS (
       |${queryTexts(model, rules).map(_._2).mkString("\nUNION ALL\n")}
       |)
       |SELECT check_id, check_name, check_level, category, cdm_table_name, cdm_field_name,
       |  num_violated_rows, num_denominator_rows,
       |  floor(CAST(num_violated_rows AS DOUBLE) / greatest(num_denominator_rows, 1) * 1e6 + 0.5) / 1e6 AS pct_violated_rows,
       |  CAST(threshold_value AS DOUBLE) AS threshold_value,
       |  CAST(CASE WHEN floor(CAST(num_violated_rows AS DOUBLE) / greatest(num_denominator_rows, 1) * 100 * 1e6 + 0.5)
       |    > floor(CAST(threshold_value AS DOUBLE) * 1e6 + 0.5) THEN 1 ELSE 0 END AS BIGINT) AS failed
       |FROM checks ORDER BY check_id""".stripMargin

  /** The expected battery output over an all-EMPTY table universe, rendered
    * as a VALUES oracle from the same checks.
    */
  def emptyUniverseOracleSql(model: CdmModel, rules: RuleSet = RuleSet()): String = {
    val rows = battery(model, rules).map { c =>
      val (viol, denom) = c.eval match {
        case Fused(_, _, onEmpty) => onEmpty
        case Const(v, d) => (v, d) // the column exists even when empty
        case _ => (0L, 0L)
      }
      val pct = viol.toDouble / math.max(denom, 1L)
      val thr = threshold(rules, c)
      val failed = if (viol * 100.0 / math.max(denom, 1L) > thr) 1 else 0
      s"('${c.id}', '${c.name}', '${c.level}', '${c.category}', '${c.table}', '${c.field}', $viol, $denom, $pct, $thr, $failed)"
    }
    s"""SELECT check_id, check_name, check_level, category, cdm_table_name, cdm_field_name,
       |  CAST(num_violated_rows AS BIGINT) AS num_violated_rows,
       |  CAST(num_denominator_rows AS BIGINT) AS num_denominator_rows,
       |  CAST(pct_violated_rows AS DOUBLE) AS pct_violated_rows,
       |  CAST(threshold_value AS DOUBLE) AS threshold_value,
       |  CAST(failed AS BIGINT) AS failed
       |FROM (VALUES
       |${rows.mkString(",\n")}
       |) AS t(check_id, check_name, check_level, category, cdm_table_name, cdm_field_name,
       |  num_violated_rows, num_denominator_rows, pct_violated_rows, threshold_value, failed)
       |ORDER BY check_id""".stripMargin
  }
}

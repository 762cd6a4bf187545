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
  * [[oracleSql]] renders the SAME battery as ANSI SQL from the SAME
  * metadata, so the correctness gate checks the generation logic, not a
  * transcribed check list; [[emptyUniverseOracleSql]] renders the expected
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

  /** One generated check: aggregate expressions for violated/denominator
    * (evaluated over the parent-joined table), plus the metadata needed to
    * render the oracle.
    */
  private final case class Check(
      name: String,
      level: String,
      category: String,
      table: String,
      field: String,
      violated: Column,
      denominator: Column,
      bound: Option[Double] = None,
      parent: Option[(String, String)] = None, // (parentTable, parentPk)
      fkCol: Option[String] = None,
      parentField: Option[String] = None,
      constValue: Option[(Long, Long)] = None,
      allowed: Option[Seq[String]] = None,
      endField: Option[String] = None,
      stratum: Option[(String, String)] = None,
      attrCol: Option[String] = None,      // ConceptAttr: parent attr column
      invCol: Option[String] = None,       // ConceptAttr: must-be-NULL column
      excludeZero: Boolean = false,        // ConceptAttr: skip sentinel id 0
      siblingOf: Option[(String, String)] = None, // Sibling: (table, key)
      days: Option[Int] = None,            // duringLife grace / visit slack
      // GenderDesc: (closureTable, ancestorCol, descendantCol) — the
      // concept-hierarchy closure the descendant set comes from
      closure: Option[(String, String, String)] = None,
      distinctAgg: Boolean = false) {      // branch B (Expand-confined) check
    /** The LITERAL OHDSI DQD check id
      * (`/root/reference/src/riab/etl/data_quality.py:420-430`
      * `_get_check_id`): `checkLevel.lower()` + `checkName.lower()` +
      * `cdmTableName.lower()` [+ field] [+ conceptId] [+ unitConceptId],
      * underscore-joined — so stored results are keyed exactly like rows
      * produced by DataQualityDashboard and downstream OHDSI tooling can
      * consume them. Unit checks append the allowed unit list the way the
      * DQD threshold CSV's `unitConceptIds` cell renders (space-joined,
      * then lowercased/underscored).
      */
    def id: String = {
      val base = Seq(level.toLowerCase, name.toLowerCase, table.toLowerCase) ++
        (if (field.nonEmpty) Seq(field.toLowerCase) else Nil) ++
        (if (level == "CONCEPT") Seq(stratum.get._2.toLowerCase) else Nil) ++
        (if (name == "plausibleUnitConceptIds")
          allowed.toSeq.map(_.mkString("_").toLowerCase) else Nil)
      base.mkString("_")
    }
  }

  /** Every per-scan check of one table. Branch-A checks reference the
    * `__tp_*` / `__dl_*` / `__ca_*` columns [[fieldLevel]] attaches by
    * left-joining parents on unique keys; branch-B (distinct) checks read
    * the raw table only.
    */
  private def tableChecks(model: CdmModel, table: String, rules: RuleSet,
      actualCols: Option[Set[String]] = None): Seq[Check] = {
    val all = count(lit(1))
    // count(*)*0+1 instead of a bare literal: stays an aggregate expression
    // and still yields 1 on an empty table (where min/max would be NULL)
    val one = count(lit(1)) * lit(0L) + lit(1L)
    val presence = Seq(Check("cdmTable", "TABLE", "Conformance", table, "",
      when(count(lit(1)) === 0, lit(1L)).otherwise(lit(0L)), one))
    val fieldPresence = model.sparkSchema(table).fields.toSeq.map { sf =>
      val missing = actualCols.exists(cols => !cols.contains(sf.name))
      Check("cdmField", "FIELD", "Conformance", table, sf.name,
        lit(0L), lit(0L), constValue = Some((if (missing) 1L else 0L, 1L)))
    }
    val required = model.requiredColumns(table).map { f =>
      Check("isRequired", "FIELD", "Completeness", table, f,
        sum(when(col(f).isNull, 1L).otherwise(0L)), all)
    }
    val valueCompleteness =
      model.sparkSchema(table).fields.toSeq.collect {
        case sf if !model.requiredColumns(table).contains(sf.name) =>
          Check("measureValueCompleteness", "FIELD", "Completeness", table, sf.name,
            sum(when(col(sf.name).isNull, 1L).otherwise(0L)), all)
      }
    val datatype = model.sparkSchema(table).fields.collect {
      case sf if sf.dataType == org.apache.spark.sql.types.LongType =>
        Check("cdmDatatype", "FIELD", "Conformance", table, sf.name,
          sum(when(col(sf.name).isNotNull && !col(sf.name).cast("string").rlike(IntRegex),
            1L).otherwise(0L)),
          all)
    }.toSeq
    // isPrimaryKey is a DISTINCT aggregate -> branch B, so the main pass
    // plans no Expand
    val pk = model.pk(table).toSeq.map { p =>
      Check("isPrimaryKey", "FIELD", "Conformance", table, p,
        count(lit(1)) - countDistinct(col(p)), count(lit(1)), distinctAgg = true)
    }
    val fk = model.fks(table).toSeq.sortBy(_._1).map { case (fkCol, parent) =>
      val parentPk = model.pk(parent).getOrElse(
        throw new IllegalStateException(s"fk target $parent has no pk"))
      Check("isForeignKey", "FIELD", "Conformance", table, fkCol,
        sum(when(col(fkCol).isNotNull && col(s"__pk_$fkCol").isNull, 1L).otherwise(0L)),
        sum(when(col(fkCol).isNotNull, 1L).otherwise(0L)),
        parent = Some((parent, parentPk)))
    }
    val plausible = rules.bounds.toSeq.sortBy(_._1).collect {
      case ((t, f), (lo, hi)) if t == table =>
        lo.toSeq.map(b =>
          Check("plausibleValueLow", "FIELD", "Plausibility", table, f,
            sum(when(col(f) < b, 1L).otherwise(0L)), all, Some(b))) ++
          hi.toSeq.map(b =>
            Check("plausibleValueHigh", "FIELD", "Plausibility", table, f,
              sum(when(col(f) > b, 1L).otherwise(0L)), all, Some(b)))
    }.flatten
    val temporalChecks = rules.temporal.filter(_.table == table)
      .sortBy(r => (r.name, r.field)).map { r =>
        val parent = model.fks(table)(r.fkCol)
        val parentPk = model.pk(parent).get
        val tp = col(s"__tp_${r.fkCol}_${r.parentField}")
        Check(r.name, "FIELD", "Plausibility", table, r.field,
          sum(when(col(r.field).isNotNull && tp.isNotNull && col(r.field) < tp, 1L).otherwise(0L)),
          sum(when(col(r.field).isNotNull && tp.isNotNull, 1L).otherwise(0L)),
          parent = Some((parent, parentPk)), fkCol = Some(r.fkCol),
          parentField = Some(r.parentField))
      }
    val startBeforeEnd = rules.startEnd.filter(_.table == table).sortBy(_.startField).map { r =>
      val (s, e) = (col(r.startField), col(r.endField))
      Check("plausibleStartBeforeEnd", "FIELD", "Plausibility", table, r.startField,
        sum(when(s.isNotNull && e.isNotNull && s > e, 1L).otherwise(0L)),
        sum(when(s.isNotNull && e.isNotNull, 1L).otherwise(0L)),
        endField = Some(r.endField))
    }
    val domainChecks = rules.domains.filter(_.table == table).sortBy(_.field).map { r =>
      Check("fkDomain", "FIELD", "Conformance", table, r.field,
        sum(when(col(r.field).isNotNull && !col(r.field).isin(r.allowed: _*), 1L).otherwise(0L)),
        sum(when(col(r.field).isNotNull, 1L).otherwise(0L)),
        allowed = Some(r.allowed))
    }
    val conceptChecks = rules.concepts.filter(_.table == table)
      .sortBy(r => (r.field, r.strataValue)).flatMap { r =>
        val inStratum = col(r.strataCol) === r.strataValue && col(r.field).isNotNull
        def mk(name: String, cond: Column, b: Double) =
          Check(name, "CONCEPT", "Plausibility", table, r.field,
            sum(when(inStratum && cond, 1L).otherwise(0L)),
            sum(when(inStratum, 1L).otherwise(0L)),
            bound = Some(b), stratum = Some((r.strataCol, r.strataValue)))
        r.lo.toSeq.map(b => mk("plausibleValueLow", col(r.field) < b, b)) ++
          r.hi.toSeq.map(b => mk("plausibleValueHigh", col(r.field) > b, b))
      }
    val withinVisitChecks = rules.withinVisit.filter(_.table == table).sortBy(_.field).map { r =>
      val parent = model.fks(table)(r.fkCol)
      val parentPk = model.pk(parent).get
      val f = col(r.field)
      val vs = col(s"__tp_${r.fkCol}_${r.parentStart}")
      val ve = col(s"__tp_${r.fkCol}_${r.parentEnd}")
      val slack = expr(s"INTERVAL ${r.slackDays} DAY")
      Check("withinVisitDates", "FIELD", "Plausibility", table, r.field,
        sum(when(f.isNotNull && vs.isNotNull && ve.isNotNull &&
          (f < vs - slack || f > ve + slack), 1L).otherwise(0L)),
        sum(when(f.isNotNull && vs.isNotNull && ve.isNotNull, 1L).otherwise(0L)),
        parent = Some((parent, parentPk)), fkCol = Some(r.fkCol),
        parentField = Some(r.parentStart), endField = Some(r.parentEnd),
        days = Some(r.slackDays))
    }
    val duringLifeChecks = rules.duringLife.filter(_.table == table).sortBy(_.field).map { r =>
      val f = col(r.field)
      val dd = col(s"__dl_dt_${r.fkCol}")
      val grace = expr(s"INTERVAL ${r.graceDays} DAY")
      Check(r.name, "FIELD", "Plausibility", table, r.field,
        sum(when(f.isNotNull && dd.isNotNull && f > dd + grace, 1L).otherwise(0L)),
        sum(when(f.isNotNull && dd.isNotNull, 1L).otherwise(0L)),
        parent = Some((r.deathTable, r.deathKey)), fkCol = Some(r.fkCol),
        parentField = Some(r.deathDateField), days = Some(r.graceDays))
    }
    val conceptAttrChecks = rules.conceptAttrs.filter(_.table == table)
      .sortBy(r => (r.name, r.field)).map { r =>
        val f = col(r.field)
        val a = col(s"__ca_${r.field}_${r.attrCol}").cast("string")
        val okAttr = r.invCol.map(ic => a.isin(r.allowed: _*) &&
          col(s"__ca_${r.field}_$ic").isNull).getOrElse(a.isin(r.allowed: _*))
        val inScope = if (r.excludeZero) f.isNotNull && f =!= 0 else f.isNotNull
        Check(r.name, "FIELD", "Conformance", table, r.field,
          sum(when(inScope && !coalesce(okAttr, lit(false)), 1L).otherwise(0L)),
          sum(when(inScope, 1L).otherwise(0L)),
          parent = Some((r.conceptTable, r.conceptPk)), allowed = Some(r.allowed),
          attrCol = Some(r.attrCol), invCol = r.invCol, excludeZero = r.excludeZero)
      }
    val recordChecks = rules.recordCompleteness.filter(_.table == table)
      .sortBy(r => (r.name, r.field)).map { r =>
        Check(r.name, "FIELD", "Completeness", table, r.field,
          sum(when(col(r.field).isNotNull && col(r.field) === 0, 1L).otherwise(0L)), all)
      }
    val sourceValueChecks = rules.sourceValues.filter(_.table == table).sortBy(_.field).map { r =>
      Check("sourceValueCompleteness", "FIELD", "Completeness", table, r.field,
        countDistinct(when(col(r.conceptField) === 0, col(r.field))),
        countDistinct(col(r.field)),
        parentField = Some(r.conceptField), distinctAgg = true)
    }
    val unitChecks = rules.units.filter(_.table == table)
      .sortBy(r => (r.unitCol, r.conceptValue)).map { r =>
        val inStratum = col(r.conceptCol) === r.conceptValue
        val u = col(r.unitCol).cast("string")
        Check("plausibleUnitConceptIds", "CONCEPT", "Plausibility", table, r.unitCol,
          sum(when(inStratum && (u.isNull || !u.isin(r.allowed: _*)), 1L).otherwise(0L)),
          sum(when(inStratum, 1L).otherwise(0L)),
          allowed = Some(r.allowed), stratum = Some((r.conceptCol, r.conceptValue)))
      }
    val genderChecks = rules.genders.filter(_.table == table)
      .sortBy(r => (r.conceptCol, r.conceptValue)).map { r =>
        val parent = model.fks(table)(r.fkCol)
        val parentPk = model.pk(parent).get
        val g = col(s"__tp_${r.fkCol}_${r.parentGenderCol}").cast("string")
        val inStratum = col(r.conceptCol) === r.conceptValue && g.isNotNull
        Check("plausibleGender", "CONCEPT", "Plausibility", table, r.conceptCol,
          sum(when(inStratum && !g.isin(r.allowed: _*), 1L).otherwise(0L)),
          sum(when(inStratum, 1L).otherwise(0L)),
          parent = Some((parent, parentPk)), fkCol = Some(r.fkCol),
          parentField = Some(r.parentGenderCol), allowed = Some(r.allowed),
          stratum = Some((r.conceptCol, r.conceptValue)))
      }
    val genderDescChecks = rules.genderDesc.filter(_.table == table)
      .sortBy(r => (r.conceptCol, r.ancestorValue)).map { r =>
        val parent = model.fks(table)(r.fkCol)
        val parentPk = model.pk(parent).get
        val g = col(s"__tp_${r.fkCol}_${r.parentGenderCol}").cast("string")
        val inStratum =
          col(s"__gd_${r.conceptCol}_${r.ancestorValue}").isNotNull && g.isNotNull
        Check("plausibleGenderUseDescendants", "CONCEPT", "Plausibility",
          table, r.conceptCol,
          sum(when(inStratum && !g.isin(r.allowed: _*), 1L).otherwise(0L)),
          sum(when(inStratum, 1L).otherwise(0L)),
          parent = Some((parent, parentPk)), fkCol = Some(r.fkCol),
          parentField = Some(r.parentGenderCol), allowed = Some(r.allowed),
          stratum = Some((r.conceptCol, r.ancestorValue)),
          closure = Some((r.closureTable, r.ancestorCol, r.descendantCol)))
      }
    presence ++ fieldPresence ++ required ++ valueCompleteness ++ datatype ++
      pk ++ fk ++ plausible ++ temporalChecks ++ startBeforeEnd ++ domainChecks ++
      conceptChecks ++ withinVisitChecks ++ duringLifeChecks ++ conceptAttrChecks ++
      recordChecks ++ sourceValueChecks ++ unitChecks ++ genderChecks ++
      genderDescChecks
  }

  /** TABLE-level checks whose scan runs over a DIFFERENT table than the one
    * they report on: measurePersonCompleteness (parents with no child row)
    * and the sibling-completeness family (sibling entities with no row).
    */
  private def crossTableChecks(model: CdmModel, rules: RuleSet): Seq[Check] = {
    val personCompleteness = rules.completeness.sortBy(r => (r.table, r.fkCol)).map { r =>
      val parent = model.fks(r.table).getOrElse(r.fkCol,
        throw new IllegalArgumentException(s"${r.table}.${r.fkCol} is not an FK"))
      val parentPk = model.pk(parent).getOrElse(
        throw new IllegalStateException(s"completeness parent $parent has no pk"))
      Check("measurePersonCompleteness", "TABLE", "Completeness", r.table, r.fkCol,
        lit(0L), lit(0L), parent = Some((parent, parentPk)), fkCol = Some(r.fkCol))
    }
    val siblingCompleteness = rules.siblings.sortBy(r => (r.name, r.table)).map { r =>
      Check(r.name, "TABLE", "Completeness", r.table, r.tableKey,
        lit(0L), lit(0L), fkCol = Some(r.tableKey),
        siblingOf = Some((r.sibling, r.siblingKey)))
    }
    personCompleteness ++ siblingCompleteness
  }

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
    val byTable = model.tables.map { tb =>
      tb -> tableChecks(model, tb, rules, Some(load(tb).columns.toSet))
    }
    val perTable = byTable.flatMap { case (tb, allChecks) =>
      val checksA = allChecks.filter(c => c.constValue.isEmpty && !c.distinctAgg)
      val checksB = allChecks.filter(c => c.constValue.isEmpty && c.distinctAgg)
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
      val branchA = {
        val aggs = checksA.zipWithIndex.flatMap { case (c, i) =>
          Seq(c.violated.as(s"__v$i"), c.denominator.as(s"__d$i"))
        }
        gdJoined
          .agg(aggs.head, aggs.tail: _*)
          .select(explode(array(checksA.zipWithIndex.map { case (c, i) =>
            struct(
              lit(c.id).as("check_id"),
              lit(c.name).as("check_name"),
              lit(c.level).as("check_level"),
              lit(c.category).as("category"),
              lit(c.table).as("cdm_table_name"),
              lit(c.field).as("cdm_field_name"),
              col(s"__v$i").cast("long").as("num_violated_rows"),
              col(s"__d$i").cast("long").as("num_denominator_rows"))
          }: _*)).as("c"))
          .select("c.*")
      }
      // branch B: the distinct-style checks over a NARROW projection — the
      // multi-distinct Expand only ever sees the key/source columns
      val branchB = if (checksB.isEmpty) Nil else {
        val needed = checksB.flatMap(c =>
          c.field +: c.parentField.toSeq).distinct.map(col)
        val aggs = checksB.zipWithIndex.flatMap { case (c, i) =>
          Seq(c.violated.as(s"__v$i"), c.denominator.as(s"__d$i"))
        }
        Seq(load(tb).select(needed: _*)
          .agg(aggs.head, aggs.tail: _*)
          .select(explode(array(checksB.zipWithIndex.map { case (c, i) =>
            struct(
              lit(c.id).as("check_id"),
              lit(c.name).as("check_name"),
              lit(c.level).as("check_level"),
              lit(c.category).as("category"),
              lit(c.table).as("cdm_table_name"),
              lit(c.field).as("cdm_field_name"),
              col(s"__v$i").cast("long").as("num_violated_rows"),
              col(s"__d$i").cast("long").as("num_denominator_rows"))
          }: _*)).as("c"))
          .select("c.*"))
      }
      branchA +: branchB
    }
    // the plan-time-constant checks land as ONE local relation
    val session = load(model.tables.head).sparkSession
    import session.implicits._
    val constDf = byTable.flatMap { case (_, allChecks) =>
      allChecks.collect { case c if c.constValue.isDefined =>
        val (v, dnm) = c.constValue.get
        (c.id, c.name, c.level, c.category, c.table, c.field, v, dnm)
      }
    }.toDF("check_id", "check_name", "check_level", "category",
      "cdm_table_name", "cdm_field_name", "num_violated_rows", "num_denominator_rows")
    // cross-table completeness: one branch per rule — the parent (or
    // sibling) distinct-key set left-joined to the table's distinct keys,
    // both aggregates in the same pass
    val crossDfs = crossTableChecks(model, rules).map { c =>
      val (leftDf, leftKey) = c.siblingOf match {
        case Some((sib, sibKey)) =>
          (load(sib).select(col(sibKey).as("__p")).where(col("__p").isNotNull).distinct(), "__p")
        case None =>
          val (parent, parentPk) = c.parent.get
          (load(parent).select(col(parentPk).as("__p")), "__p")
      }
      val childFks = load(c.table)
        .select(col(c.fkCol.get).as("__fk")).where(col("__fk").isNotNull).distinct()
      leftDf
        .join(childFks, col(leftKey) === col("__fk"), "left")
        .agg(
          sum(when(col("__fk").isNull, 1L).otherwise(0L)).as("num_violated_rows"),
          count(lit(1)).as("num_denominator_rows"))
        .select(
          lit(c.id).as("check_id"), lit(c.name).as("check_name"),
          lit(c.level).as("check_level"), lit(c.category).as("category"),
          lit(c.table).as("cdm_table_name"), lit(c.field).as("cdm_field_name"),
          col("num_violated_rows").cast("long"), col("num_denominator_rows").cast("long"))
    }
    // per-check thresholds ride a broadcast lookup keyed by check id
    val allCheckMeta = byTable.flatMap(_._2) ++ crossTableChecks(model, rules)
    val thrDf = {
      import session.implicits._
      allCheckMeta.map(c => (c.id, rules.thresholds.getOrElse((c.name, c.table, c.field), 0.0)))
        .toDF("check_id", "threshold_value")
    }
    (graft.Unions.balanced(perTable ++ crossDfs :+ constDf), thrDf)
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

  /** One check's rendered DuckDB query — the oracle's per-check SELECT and
    * ALSO the `query_text` the dashboard's show-query drill-down serves
    * (the reference's result rows carry the rendered check SQL,
    * `data_quality_dashboard.py:358-367`).
    */
  private def checkSelectSql(c: Check, threshold: Double): String = {
    val (violSql, denomSql, fromSql) = c.name match {
          case "cdmTable" =>
            ("CASE WHEN count(*) = 0 THEN 1 ELSE 0 END", "1", c.table)
          case "cdmField" =>
            ("0", "1", "(SELECT 1) AS __dual")
          case "isRequired" | "measureValueCompleteness" =>
            (s"count(*) FILTER (WHERE ${c.field} IS NULL)", "count(*)", c.table)
          case "cdmDatatype" =>
            (s"count(*) FILTER (WHERE ${c.field} IS NOT NULL AND NOT regexp_matches(CAST(${c.field} AS VARCHAR), '$IntRegex'))",
              "count(*)", c.table)
          case "isPrimaryKey" =>
            (s"count(*) - count(DISTINCT ${c.field})", "count(*)", c.table)
          case "isForeignKey" =>
            val (parent, parentPk) = c.parent.get
            (s"count(*) FILTER (WHERE s.${c.field} IS NOT NULL AND p.__pk IS NULL)",
              s"count(*) FILTER (WHERE s.${c.field} IS NOT NULL)",
              s"${c.table} s LEFT JOIN (SELECT DISTINCT $parentPk AS __pk FROM $parent) p ON s.${c.field} = p.__pk")
          case "plausibleValueLow" if c.stratum.isDefined =>
            val (sc, sv) = c.stratum.get
            (s"count(*) FILTER (WHERE $sc = '$sv' AND ${c.field} IS NOT NULL AND ${c.field} < ${c.bound.get})",
              s"count(*) FILTER (WHERE $sc = '$sv' AND ${c.field} IS NOT NULL)", c.table)
          case "plausibleValueHigh" if c.stratum.isDefined =>
            val (sc, sv) = c.stratum.get
            (s"count(*) FILTER (WHERE $sc = '$sv' AND ${c.field} IS NOT NULL AND ${c.field} > ${c.bound.get})",
              s"count(*) FILTER (WHERE $sc = '$sv' AND ${c.field} IS NOT NULL)", c.table)
          case "plausibleValueLow" =>
            (s"count(*) FILTER (WHERE ${c.field} < ${c.bound.get})", "count(*)", c.table)
          case "plausibleValueHigh" =>
            (s"count(*) FILTER (WHERE ${c.field} > ${c.bound.get})", "count(*)", c.table)
          case "plausibleTemporalAfter" | "plausibleAfterBirth" =>
            val (parent, parentPk) = c.parent.get
            (s"count(*) FILTER (WHERE s.${c.field} IS NOT NULL AND p.__tp IS NOT NULL AND s.${c.field} < p.__tp)",
              s"count(*) FILTER (WHERE s.${c.field} IS NOT NULL AND p.__tp IS NOT NULL)",
              s"${c.table} s LEFT JOIN (SELECT DISTINCT $parentPk AS __pk, ${c.parentField.get} AS __tp FROM $parent) p ON s.${c.fkCol.get} = p.__pk")
          case "plausibleStartBeforeEnd" =>
            val e = c.endField.get
            (s"count(*) FILTER (WHERE ${c.field} IS NOT NULL AND $e IS NOT NULL AND ${c.field} > $e)",
              s"count(*) FILTER (WHERE ${c.field} IS NOT NULL AND $e IS NOT NULL)", c.table)
          case "fkDomain" =>
            val list = c.allowed.get.map(v => s"'${v.replace("'", "''")}'").mkString(", ")
            (s"count(*) FILTER (WHERE ${c.field} IS NOT NULL AND ${c.field} NOT IN ($list))",
              s"count(*) FILTER (WHERE ${c.field} IS NOT NULL)", c.table)
          case "withinVisitDates" =>
            val (parent, parentPk) = c.parent.get
            val d = c.days.get
            (s"count(*) FILTER (WHERE s.${c.field} IS NOT NULL AND p.__vs IS NOT NULL AND p.__ve IS NOT NULL AND (s.${c.field} < p.__vs - INTERVAL $d DAY OR s.${c.field} > p.__ve + INTERVAL $d DAY))",
              s"count(*) FILTER (WHERE s.${c.field} IS NOT NULL AND p.__vs IS NOT NULL AND p.__ve IS NOT NULL)",
              s"${c.table} s LEFT JOIN (SELECT DISTINCT $parentPk AS __pk, ${c.parentField.get} AS __vs, ${c.endField.get} AS __ve FROM $parent) p ON s.${c.fkCol.get} = p.__pk")
          case "plausibleDuringLife" | "plausibleBeforeDeath" =>
            val (dTb, dKey) = c.parent.get
            val d = c.days.get
            (s"count(*) FILTER (WHERE s.${c.field} IS NOT NULL AND p.__dd IS NOT NULL AND s.${c.field} > p.__dd + INTERVAL $d DAY)",
              s"count(*) FILTER (WHERE s.${c.field} IS NOT NULL AND p.__dd IS NOT NULL)",
              s"${c.table} s LEFT JOIN (SELECT $dKey AS __pk, min(${c.parentField.get}) AS __dd FROM $dTb GROUP BY 1) p ON s.${c.fkCol.get} = p.__pk")
          case "isStandardValidConcept" | "fkClass" =>
            val (cTb, cPk) = c.parent.get
            val attrs = (c.attrCol.toSeq ++ c.invCol.toSeq)
              .map(a => s"max($a) AS __$a").mkString(", ")
            val list = c.allowed.get.map(v => s"'${v.replace("'", "''")}'").mkString(", ")
            val ok = s"CAST(p.__${c.attrCol.get} AS VARCHAR) IN ($list)" +
              c.invCol.map(ic => s" AND p.__$ic IS NULL").getOrElse("")
            val scope = s"s.${c.field} IS NOT NULL" +
              (if (c.excludeZero) s" AND s.${c.field} != 0" else "")
            (s"count(*) FILTER (WHERE $scope AND NOT coalesce($ok, false))",
              s"count(*) FILTER (WHERE $scope)",
              s"${c.table} s LEFT JOIN (SELECT $cPk AS __pk, $attrs FROM $cTb GROUP BY 1) p ON s.${c.field} = p.__pk")
          case "standardConceptRecordCompleteness" | "sourceConceptRecordCompleteness" =>
            (s"count(*) FILTER (WHERE ${c.field} = 0)", "count(*)", c.table)
          case "sourceValueCompleteness" =>
            (s"count(DISTINCT CASE WHEN ${c.parentField.get} = 0 THEN ${c.field} END)",
              s"count(DISTINCT ${c.field})", c.table)
          case "plausibleUnitConceptIds" =>
            val (sc, sv) = c.stratum.get
            val list = c.allowed.get.map(v => s"'${v.replace("'", "''")}'").mkString(", ")
            (s"count(*) FILTER (WHERE $sc = '$sv' AND (${c.field} IS NULL OR CAST(${c.field} AS VARCHAR) NOT IN ($list)))",
              s"count(*) FILTER (WHERE $sc = '$sv')", c.table)
          case "plausibleGender" =>
            val (parent, parentPk) = c.parent.get
            val (sc, sv) = c.stratum.get
            val list = c.allowed.get.map(v => s"'${v.replace("'", "''")}'").mkString(", ")
            (s"count(*) FILTER (WHERE s.$sc = '$sv' AND p.__g IS NOT NULL AND CAST(p.__g AS VARCHAR) NOT IN ($list))",
              s"count(*) FILTER (WHERE s.$sc = '$sv' AND p.__g IS NOT NULL)",
              s"${c.table} s LEFT JOIN (SELECT DISTINCT $parentPk AS __pk, ${c.parentField.get} AS __g FROM $parent) p ON s.${c.fkCol.get} = p.__pk")
          case "plausibleGenderUseDescendants" =>
            val (parent, parentPk) = c.parent.get
            val (sc, anc) = c.stratum.get
            val (aTb, aCol, dCol) = c.closure.get
            val list = c.allowed.get.map(v => s"'${v.replace("'", "''")}'").mkString(", ")
            (s"count(*) FILTER (WHERE d.__desc IS NOT NULL AND p.__g IS NOT NULL AND CAST(p.__g AS VARCHAR) NOT IN ($list))",
              s"count(*) FILTER (WHERE d.__desc IS NOT NULL AND p.__g IS NOT NULL)",
              s"${c.table} s" +
                s" LEFT JOIN (SELECT DISTINCT $dCol AS __desc FROM $aTb WHERE CAST($aCol AS VARCHAR) = '$anc') d ON s.$sc = d.__desc" +
                s" LEFT JOIN (SELECT DISTINCT $parentPk AS __pk, ${c.parentField.get} AS __g FROM $parent) p ON s.${c.fkCol.get} = p.__pk")
          case "measurePersonCompleteness" =>
            val (parent, parentPk) = c.parent.get
            ("count(*) FILTER (WHERE c.__fk IS NULL)", "count(*)",
              s"$parent p LEFT JOIN (SELECT DISTINCT ${c.fkCol.get} AS __fk FROM ${c.table} WHERE ${c.fkCol.get} IS NOT NULL) c ON p.$parentPk = c.__fk")
          case "measureConditionEraCompleteness" =>
            val (sib, sibKey) = c.siblingOf.get
            ("count(*) FILTER (WHERE c.__fk IS NULL)", "count(*)",
              s"(SELECT DISTINCT $sibKey AS __p FROM $sib WHERE $sibKey IS NOT NULL) p LEFT JOIN (SELECT DISTINCT ${c.fkCol.get} AS __fk FROM ${c.table} WHERE ${c.fkCol.get} IS NOT NULL) c ON p.__p = c.__fk")
        }
        s"""SELECT '${c.id}' AS check_id, '${c.name}' AS check_name, '${c.level}' AS check_level,
           |  '${c.category}' AS category, '${c.table}' AS cdm_table_name, '${c.field}' AS cdm_field_name,
           |  CAST($violSql AS BIGINT) AS num_violated_rows,
           |  CAST($denomSql AS BIGINT) AS num_denominator_rows,
           |  CAST($threshold AS DOUBLE) AS threshold_value
           |FROM $fromSql""".stripMargin
  }

  /** (check_id, query_text) for every check of a battery — joined into the
    * stored results so each row carries its own rendered query.
    */
  def queryTexts(model: CdmModel, rules: RuleSet = RuleSet()): Seq[(String, String)] = {
    val allChecks = model.tables.flatMap { tb =>
      tableChecks(model, tb, rules, actualCols = None)
    } ++ crossTableChecks(model, rules)
    allChecks.map(c => c.id ->
      checkSelectSql(c, rules.thresholds.getOrElse((c.name, c.table, c.field), 0.0)))
  }

  /** The same battery rendered as DuckDB SQL from the same metadata. */
  def oracleSql(model: CdmModel, rules: RuleSet = RuleSet()): String = {
    val allChecks = model.tables.flatMap { tb =>
      tableChecks(model, tb, rules, actualCols = None)
    } ++ crossTableChecks(model, rules)
    def thr(c: Check): Double = rules.thresholds.getOrElse((c.name, c.table, c.field), 0.0)
    val selects = allChecks.map(c => checkSelectSql(c, thr(c)))
    s"""WITH checks AS (
       |${selects.mkString("\nUNION ALL\n")}
       |)
       |SELECT check_id, check_name, check_level, category, cdm_table_name, cdm_field_name,
       |  num_violated_rows, num_denominator_rows,
       |  floor(CAST(num_violated_rows AS DOUBLE) / greatest(num_denominator_rows, 1) * 1e6 + 0.5) / 1e6 AS pct_violated_rows,
       |  CAST(threshold_value AS DOUBLE) AS threshold_value,
       |  CAST(CASE WHEN floor(CAST(num_violated_rows AS DOUBLE) / greatest(num_denominator_rows, 1) * 100 * 1e6 + 0.5)
       |    > floor(CAST(threshold_value AS DOUBLE) * 1e6 + 0.5) THEN 1 ELSE 0 END AS BIGINT) AS failed
       |FROM checks ORDER BY check_id""".stripMargin
  }

  /** The expected battery output over an all-EMPTY table universe, rendered
    * as a VALUES oracle from the same metadata.
    */
  def emptyUniverseOracleSql(model: CdmModel, rules: RuleSet = RuleSet()): String = {
    val allChecks = model.tables.flatMap { tb =>
      tableChecks(model, tb, rules, actualCols = None)
    } ++ crossTableChecks(model, rules)
    val rows = allChecks.map { c =>
      val (viol, denom, pct) = c.name match {
        case "cdmTable" => (1, 1, "1.0")
        case "cdmField" => (0, 1, "0.0") // column exists even when empty
        case _          => (0, 0, "0.0")
      }
      val thr = rules.thresholds.getOrElse((c.name, c.table, c.field), 0.0)
      val failed = if (viol * 100.0 / math.max(denom, 1) > thr) 1 else 0
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

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The merge pipeline's relational core (§2.12-5): swap joins, null-normalized
  * keys, deterministic dedup, `_source_value` aggregation, and the union-
  * with-preserved-rows tail.
  *
  * Reference semantics:
  * `/root/reference/src/riab/etl/bigquery/templates/etl/{omop_table}_merge.sql.jinja:3-149`
  * (and the SQL Server variant
  * `/root/reference/src/riab/etl/sql_server/templates/etl/{omop_table}_merge.sql.jinja:157-163`
  * whose deterministic ORDER BY we adopt for the dedup tie-break).
  */
object MergeOps {

  /** Null-normalized equality: `IFNULL(a, 0) = IFNULL(b, 0)` as used by the
    * PK-swap join condition (`{omop_table}_merge.sql.jinja:86-94`). Spark's
    * null-safe `<=>` differs when one side is 0 and the other NULL — the
    * reference *conflates* NULL with the default, so we reproduce coalesce.
    */
  def nullNormEq(a: Column, b: Column, default: Column): Column =
    coalesce(a, default) === coalesce(b, default)

  /** J1: Usagi concept-swap left join — upload rows LEFT JOIN the usagi
    * mapping on `sourceCode` with the mapping-status filter (P2) folded into
    * the join condition (`{omop_table}_merge.sql.jinja:70-80`). The usagi
    * table is a human-curated mapping — small by construction — so it is
    * broadcast.
    */
  def usagiJoin(
      upload: DataFrame,
      usagi: DataFrame,
      sourceCol: String,
      statuses: Seq[String] = Seq("APPROVED")): DataFrame = {
    val cond = upload(sourceCol) === usagi("sourceCode") &&
      usagi("mappingStatus").isin(statuses: _*)
    upload.join(broadcast(usagi), cond, "left")
  }

  /** J3: FK swap left join — rewrite a source FK value to its surrogate via
    * the fk column's swap map (`{omop_table}_merge.sql.jinja:96-112`).
    * Required columns default to 0 (P3: `IFNULL(swap_fk.y, 0)`,
    * `{omop_table}_merge.sql.jinja:34-53`); optional ones keep NULL.
    */
  def fkSwapJoin(
      df: DataFrame,
      swap: DataFrame,
      fkCol: String,
      required: Boolean,
      broadcastSwap: Boolean = false): DataFrame = {
    val s = swap.select(col("x").as(s"__x_$fkCol"), col("y").as(s"__y_$fkCol"))
    val side = if (broadcastSwap) broadcast(s) else s
    val joined = df.join(side, df(fkCol) === side(s"__x_$fkCol"), "left")
    val mapped = if (required) coalesce(col(s"__y_$fkCol"), lit(0L)) else col(s"__y_$fkCol")
    joined.withColumn(fkCol, mapped).drop(s"__x_$fkCol", s"__y_$fkCol")
  }

  /** W3: dedup-keep-first over the natural key. The BigQuery template omits
    * ORDER BY (nondeterministic); we adopt the SQL Server variant's explicit
    * ORDER BY over all columns (`sql_server/...{omop_table}_merge.sql.jinja:157-163`)
    * so the survivor is deterministic.
    */
  def dedupKeepFirst(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val orderCols = df.columns.filterNot(keyCols.contains).map(col).toSeq
    // every column is a key (a table emitting only its pk): rows sharing
    // the key are identical, and a window cannot rank without ORDER BY
    if (orderCols.isEmpty) return df.dropDuplicates(keyCols)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** W5: `_source_value` aggregation across merged duplicates —
    * `STRING_AGG(src) OVER (PARTITION BY key)` capped at 255 chars
    * (`{omop_table}_merge.sql.jinja:54-63`; T-SQL `LEFT(STRING_AGG(...),255)`).
    * Expressed as a sorted `collect_list` so the concatenation order is
    * deterministic (the BQ template's isn't).
    */
  def sourceValueAgg(df: DataFrame, keyCols: Seq[String], srcCol: String, outCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(substring(concat_ws(",", array_sort(collect_list(col(srcCol)))), 1, 255).as(outCol))

  /** U1: union of the per-query upload tables (`{omop_table}_merge.sql.jinja:13-20`). */
  def unionUploads(uploads: Seq[DataFrame]): DataFrame =
    uploads.reduce(_ unionByName _)

  /** U2: merged rows UNION ALL preserved rows — e.g. the standard vocabulary
    * rows with `concept_id < 2e9` survive a CONCEPT merge untouched
    * (`{omop_table}_merge.sql.jinja:144-149`, P6 floor at
    * `etl_base.py:20-22`).
    */
  def unionPreserve(merged: DataFrame, existing: DataFrame, preserveFilter: Column): DataFrame =
    merged.unionByName(existing.filter(preserveFilter))

  /** W3 under key skew: a hot natural key (think a default/unknown source
    * id mapped by millions of rows) funnels its whole window partition into
    * one task. Keep-first is an associative row-minimum under the
    * deterministic all-columns ordering, so it decomposes: phase 1 keeps
    * first per `(key, salt)` — spreading a hot key across `salts` tasks —
    * phase 2 keeps first among the <= `salts` survivors per key.
    * Bit-identical to [[dedupKeepFirst]] (property-tested), at the cost of
    * a second (tiny) shuffle; reach for it when AQE's skew handling isn't
    * enough because the skew is in a window, not a join.
    */
  def dedupKeepFirstSalted(df: DataFrame, keyCols: Seq[String], salts: Int = 16): DataFrame = {
    // salt from the full row hash: rows of one hot key scatter uniformly
    val salted = df.withColumn("__salt", pmod(hash(df.columns.toIndexedSeq.map(col): _*), lit(salts)))
    val phase1 = dedupKeepFirst(salted, keyCols :+ "__salt").drop("__salt")
    dedupKeepFirst(phase1, keyCols)
  }

  /** Custom-concept id floor (P6): ids >= 2e9 are RiaB-generated
    * (`/root/reference/src/riab/etl/etl_base.py:20-22`).
    */
  val CustomConceptBase: Long = 2000000000L
  def isCustomConcept(c: Column): Column = c >= lit(CustomConceptBase)
}

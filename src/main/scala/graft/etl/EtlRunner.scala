package graft.etl

import graft.model.CdmModel
import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** The CLI restriction flags of `etl.py:109-129` / `riab.py`:
  *  - `onlyQueries`: `--only-query` — run just the named user-query files,
  *    grouped by their OMOP table (etl.py groups `Path.parts[0]`), each
  *    followed by that table's event-FK step;
  *  - `onlyTables`: `--table` — process just these tables (+ their event
  *    step), skipping the full-DAG flow;
  *  - `skipUsagiAndCustomConceptUpload`: `--skip-usagi-and-custom-concept-
  *    upload` — table processing skips the usagi/concept CSV uploads;
  *  - `skipEventFksStep`: `--skip-event-fks-step` — no event-FK rewriting.
  * The post-ETL invalid-reason cleanup only runs on a FULL etl (neither
  * restriction set), exactly like `etl.py:126-129`.
  */
final case class EtlFlags(
    onlyTables: Option[Set[String]] = None,
    onlyQueries: Option[Seq[String]] = None, // "table/query.sql" paths
    skipUsagiAndCustomConceptUpload: Boolean = false,
    skipEventFksStep: Boolean = false,
    processSemiApprovedMappings: Boolean = false) {

  /** `--only-query` values grouped by their leading path segment
    * (`etl.py:111-113`).
    */
  def queriesByTable: Map[String, Seq[String]] =
    onlyQueries.getOrElse(Seq.empty).groupBy(_.split("/").head)

  /** The Usagi statuses the merge accepts
    * (`--process-semi-approved-mappings`, `etl.py:495`/`etl.py:564`) —
    * feed this to `MergeOps.usagiSwap`'s `statuses` parameter.
    */
  def approvedStatuses: Seq[String] =
    if (processSemiApprovedMappings) Seq("APPROVED", "SEMI-APPROVED")
    else Seq("APPROVED")
}

/** Stage-1 of the "two-stage rocket": per-table ETL work scheduled over
  * the FK-dependency DAG (the reference's `etl/etl.py:82-175`).
  * Tables run as Scala `Future`s submitting concurrent Spark jobs on one
  * SparkSession, the analogue of the reference's
  * `ThreadPoolExecutor(max_parallel_tables = 9)` (`etl_base.py:29`).
  */
final case class EtlRunner(model: CdmModel,
    maxParallelTables: Int = EtlRunner.MaxParallelTables) {

  /** The full `etl.py:109-129` control flow under [[EtlFlags]], without a
    * level barrier: `--only-query` runs the named queries table by table,
    * `--table` the named tables, otherwise the whole dependency DAG; each
    * processed table's event step follows unless `--skip-event-fks-step`;
    * the invalid-reason cleanup runs ONLY on a full etl.
    *
    * A table's `prepareTable` — user queries to the work upload,
    * usagi/custom uploads, and the PK-swap write — reads only the raw
    * zone and its own uploads, NEVER another table, so every prepare
    * launches immediately and runs concurrently.
    * The returned finalize thunk (FK rewrite, dedup, gold write) is the
    * only phase that reads other tables' artifacts (the parents' swap
    * tables), so each finalize is gated on exactly {own + FK-parent}
    * prepares via future composition — no global barrier anywhere. Event
    * steps run after all finalizes (they read gold tables); the post-ETL
    * cleanup reads only swap tables and writes tables no finalize or
    * event step touches (lineage map + version metadata), so it gates on
    * all prepares and drains concurrently with the finalizes.
    *
    * The critical path is max-over-tables(prepare) + finalize, not a
    * sum over dependency levels — FK cycles cannot deadlock because gates
    * wait on prepares only, and prepares wait on nothing. Restricted runs
    * (`--table` / `--only-query`) stay sequential.
    */
  def runFlowPipelined[T](
      universe: Seq[String],
      flags: EtlFlags = EtlFlags())(
      prepareTable: (String, Seq[String]) => Option[() => T],
      eventStep: String => Unit = _ => (),
      postEtlCleanup: () => Unit = () => ()): Map[String, T] = {
    def inline(tb: String, queries: Seq[String]): Option[(String, T)] = {
      val r = prepareTable(tb, queries).map(fin => tb -> fin())
      if (!flags.skipEventFksStep) eventStep(tb)
      r
    }
    if (flags.onlyQueries.isDefined)
      flags.queriesByTable.toSeq.sortBy(_._1)
        .flatMap { case (tb, qs) => inline(tb, qs) }.toMap
    else if (flags.onlyTables.isDefined)
      flags.onlyTables.get.toSeq.sorted.flatMap(tb => inline(tb, Seq.empty)).toMap
    else {
      val pool = Executors.newFixedThreadPool(math.max(1, maxParallelTables))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val universeSet = universe.toSet
        val preps: Map[String, Future[Option[() => T]]] =
          universe.map(t => t -> Future(prepareTable(t, Seq.empty))).toMap
        val finals: Seq[(String, Future[Option[T]])] = universe.map { t =>
          val gates = (model.fks(t).values.toSet.intersect(universeSet) + t).toSeq
          t -> Future.sequence(gates.map(preps)).flatMap(_ => preps(t))
            .map(_.map(fin => fin()))
        }
        val cleanupDone = Future.sequence(universe.map(preps))
          .map(_ => postEtlCleanup()) // full etl only (`etl.py:126-129`)
        val results =
          finals.flatMap { case (t, f) => Await.result(f, Duration.Inf).map(t -> _) }.toMap
        if (!flags.skipEventFksStep) universe.foreach(eventStep)
        Await.result(cleanupDone, Duration.Inf)
        results
      } finally pool.shutdown()
    }
  }
}

object EtlRunner {
  /** The reference's `max_parallel_tables = 9` (`etl_base.py:29`), the
    * default of every entry point that schedules tables.
    */
  val MaxParallelTables = 9
}

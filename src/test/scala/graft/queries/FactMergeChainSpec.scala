package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The fact_relationship merge chain runs its published discovery step:
  * `get_event_tables` executes, and its rows are checked against the
  * event_tables dict before `apply_event_columns` runs.
  */
class FactMergeChainSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Output column lists of the executions a listener sees. */
  private final class Outputs extends QueryExecutionListener {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      seen.add(qe.analyzed.output.map(_.name)); ()
    }
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Listener events arrive asynchronously: wait up to 10 s for `p`. */
  private def eventually(p: => Boolean): Boolean = {
    val end = System.nanoTime() + 10000000000L
    while (!p && System.nanoTime() < end) Thread.sleep(50)
    p
  }

  for (name <- Seq("ohdsi_sql_fact_merge_chain", "ohdsi_sql_bq_fact_merge_chain"))
    test(s"$name executes its get_event_tables discovery query") {
      val outputs = new Outputs
      spark.listenerManager.register(outputs)
      try {
        assert(SparkEntry.queries(name)(spark, sf).collect().nonEmpty)
        assert(eventually(outputs.seen.contains(Seq("event_table"))),
          "no execution returned the discovery query's event_table column")
      } finally spark.listenerManager.unregister(outputs)
    }
}

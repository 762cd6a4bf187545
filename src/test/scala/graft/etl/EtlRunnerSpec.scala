package graft.etl

import graft.model.TpchModel
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

/** FK-gated scheduling and the `etl.py:82-175` control flow. */
class EtlRunnerSpec extends AnyFunSuite {
  private val m = TpchModel.model

  test("tables inside one level genuinely run in parallel") {
    // customer and supplier share a level; each prepare waits for the
    // other's to have started — only possible if they run concurrently
    val latch = new CountDownLatch(2)
    val out = EtlRunner(m, maxParallelTables = 4).runFlowPipelined(m.tables)(
      prepareTable = (t, _) => {
        if (t == "customer" || t == "supplier") {
          latch.countDown()
          assert(latch.await(10, TimeUnit.SECONDS), s"$t never saw its level peer start")
        }
        Some(() => s"done-$t")
      })
    assert(out.keySet == m.tables.toSet)
    assert(out("lineitem") == "done-lineitem")
  }

  test("a failing table aborts the run") {
    intercept[RuntimeException] {
      EtlRunner(m).runFlowPipelined(m.tables)(prepareTable = (t, _) => {
        if (t == "nation") throw new RuntimeException("boom")
        Some(() => t)
      })
    }
  }

  test("--only-query runs just the named queries' tables, each with its event step") {
    val events = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val flags = EtlFlags(onlyQueries = Some(Seq(
      "orders/load_a.sql", "orders/load_b.sql", "nation/load.sql")))
    val out = EtlRunner(m).runFlowPipelined(m.tables, flags)(
      prepareTable = (t, qs) => Some(() => qs.sorted.mkString("+")),
      eventStep = events.add(_))
    assert(out == Map(
      "nation" -> "nation/load.sql",
      "orders" -> "orders/load_a.sql+orders/load_b.sql"))
    assert(events.toArray.toSet == Set("nation", "orders"))
  }

  test("--skip-event-fks-step suppresses the event step in every mode") {
    val events = new java.util.concurrent.CopyOnWriteArrayList[String]()
    for (flags <- Seq(EtlFlags(), EtlFlags(onlyTables = Some(Set("region"))),
        EtlFlags(onlyQueries = Some(Seq("region/q.sql")))))
      EtlRunner(m).runFlowPipelined(m.tables, flags.copy(skipEventFksStep = true))(
        prepareTable = (t, _) => Some(() => t),
        eventStep = events.add(_))
    assert(events.isEmpty)
  }

  test("--process-semi-approved-mappings widens the accepted usagi statuses") {
    assert(EtlFlags().approvedStatuses === Seq("APPROVED"))
    assert(EtlFlags(processSemiApprovedMappings = true).approvedStatuses
      === Seq("APPROVED", "SEMI-APPROVED"))
  }

  test("pipelined: prepares run barrier-free, finalize gates on own+parent prepares") {
    val prepDone = new ConcurrentHashMap[String, Long]()
    val finStart = new ConcurrentHashMap[String, Long]()
    // region (level 0) blocks until lineitem (deepest level) has PREPARED —
    // impossible under a level barrier, required here
    val lineitemPrepared = new CountDownLatch(1)
    val out = EtlRunner(m).runFlowPipelined(m.tables)(
      prepareTable = (t, _) => {
        if (t == "lineitem") lineitemPrepared.countDown()
        if (t == "region")
          assert(lineitemPrepared.await(10, TimeUnit.SECONDS),
            "barrier-free prepares: lineitem's prepare never ran while region's was blocked")
        prepDone.put(t, System.nanoTime())
        Some(() => { finStart.put(t, System.nanoTime()); s"done-$t" })
      })
    assert(out.keySet == m.tables.toSet)
    for (t <- m.tables; (_, dep) <- m.fks(t) if dep != t)
      assert(prepDone.get(dep) < finStart.get(t),
        s"$t finalized before its parent $dep prepared")
  }

  test("pipelined: skipped tables absent; cleanup on full flow only; events after finalizes") {
    val finalized = new ConcurrentHashMap[String, Boolean]()
    val events = new java.util.concurrent.CopyOnWriteArrayList[String]()
    var cleanups = 0
    val runner = EtlRunner(m)
    val out = runner.runFlowPipelined(m.tables)(
      prepareTable = (t, _) =>
        if (t == "part") None
        else Some(() => { finalized.put(t, true); t }),
      eventStep = t => {
        assert(finalized.keySet().size == m.tables.size - 1,
          s"event step for $t ran before all finalizes drained")
        events.add(t); ()
      },
      postEtlCleanup = () => cleanups += 1)
    assert(!out.contains("part") && out.size == m.tables.size - 1)
    assert(cleanups == 1)
    assert(events.toArray.toSet == m.tables.toSet)
    runner.runFlowPipelined(m.tables, EtlFlags(onlyTables = Some(Set("region"))))(
      prepareTable = (t, _) => Some(() => t),
      postEtlCleanup = () => cleanups += 1)
    assert(cleanups == 1)
  }

  test("pipelined: restricted --only-query path stays sequential with event steps") {
    // one table at a time, in name order: prepare, finalize, then its own
    // event step before the next table starts
    val log = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val flags = EtlFlags(onlyQueries = Some(Seq(
      "orders/load_a.sql", "orders/load_b.sql", "nation/load.sql")))
    EtlRunner(m).runFlowPipelined(m.tables, flags)(
      prepareTable = (t, _) => { log.add(s"prep $t"); Some(() => { log.add(s"fin $t"); t }) },
      eventStep = t => { log.add(s"event $t"); () })
    assert(log.toArray.toSeq == Seq(
      "prep nation", "fin nation", "event nation",
      "prep orders", "fin orders", "event orders"))
  }

  test("post-etl cleanup runs only on a FULL etl (etl.py:126-129)") {
    var cleanups = 0
    val runner = EtlRunner(m)
    def run(flags: EtlFlags): Unit = {
      runner.runFlowPipelined(m.tables, flags)(
        (t, _) => Some(() => t), postEtlCleanup = () => cleanups += 1)
      ()
    }
    run(EtlFlags())
    assert(cleanups == 1)
    run(EtlFlags(onlyTables = Some(Set("region"))))
    run(EtlFlags(onlyQueries = Some(Seq("region/q.sql"))))
    assert(cleanups == 1)
  }
}

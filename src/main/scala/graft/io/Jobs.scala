package graft.io

/** Run independent Spark actions as CONCURRENT jobs on the shared session
  * (optimization guide §2.6): Spark's scheduler happily runs several jobs
  * at once inside one application — actions are only sequential because
  * driver code calls them sequentially. For a sequence of small
  * independent writes (delta segments, compaction folds, bucketed stores)
  * each job's tail leaves most of local[N] idle; submitting them from a
  * bounded pool lets the next job's tasks back-fill the freed slots.
  *
  * Same pattern as the derived-CDM staging pool and the corpus
  * artifact-store build — factored out so query bodies stop re-inlining
  * the executor/Future boilerplate.
  */
object Jobs {
  def concurrently(thunks: Seq[() => Unit], maxParallel: Int = 8): Unit = {
    // measurement/ops knob: -Dgraft.jobs.maxParallel=1 serializes every
    // overlapped group on the SAME binary — the clean A/B for the §2.6
    // overlaps (and an escape hatch for memory-tight deployments); a
    // malformed or non-positive value falls back to `maxParallel`
    val cap = sys.props.get("graft.jobs.maxParallel")
      .flatMap(_.trim.toIntOption).filter(_ > 0).getOrElse(maxParallel)
    if (thunks.size <= 1 || cap <= 1) thunks.foreach(_.apply())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(cap, thunks.size))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        // await ALL thunks — success or failure — before rethrowing the
        // first failure: a fail-fast Await would return with sibling
        // writes still in flight, letting a caller that catches and
        // continues race them (and voiding the compaction path's
        // "retire only after every fold landed" invariant on the error
        // path)
        val settled = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            thunks.map(t => scala.concurrent.Future(scala.util.Try(t.apply())))),
          scala.concurrent.duration.Duration.Inf)
        settled.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
      } finally pool.shutdown()
    }
  }
}

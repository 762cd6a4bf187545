package graft.io

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class JobsSpec extends AnyFunSuite {

  /** The threads two thunks ran on under `graft.jobs.maxParallel = value`. */
  private def threadsUnder(value: String): Set[Thread] = {
    val key = "graft.jobs.maxParallel"
    val saved = sys.props.get(key)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    sys.props(key) = value
    try Jobs.concurrently(Seq.fill(2)(() => { seen.add(Thread.currentThread()); () }))
    finally saved match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key
    }
    seen.asScala.toSet
  }

  test("a malformed or non-positive maxParallel knob falls back to the default pool") {
    for (bad <- Seq("abc", "2.5", "0", "-4", ""))
      withClue(s"graft.jobs.maxParallel='$bad': ") {
        assert(!threadsUnder(bad).contains(Thread.currentThread()))
      }
  }

  test("maxParallel=1 still serializes on the caller thread") {
    assert(threadsUnder("1") === Set(Thread.currentThread()))
  }
}

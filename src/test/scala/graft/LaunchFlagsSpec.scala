package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Regression guards on the JVM launch flags `build.sbt` gives every forked
  * JVM (tests, `run`, the benchmark runner).
  */
class LaunchFlagsSpec extends AnyFunSuite {

  /** build.sbt's code, `//` comments stripped. */
  private lazy val buildCode: Seq[String] =
    Files.readAllLines(Paths.get("build.sbt")).asScala.toSeq
      .map(l => l.indexOf("//") match { case -1 => l; case i => l.take(i) })

  test("build.sbt leaves the JIT compiler pool to HotSpot's per-CPU sizing") {
    // a fixed -XX:CICompilerCount (or -XX:-CICompilerCountPerCPU) is tuned
    // for one core count and oversubscribes smaller hosts: 12 compiler
    // threads on 4 cores more than doubled a cold CLI run's JIT time
    val pins = buildCode.filter(_.contains("CICompilerCount"))
    assert(pins.isEmpty, s"build.sbt pins the JIT compiler pool: ${pins.mkString("; ")}")
    // the code-cache size is capacity, not concurrency: it stays
    assert(buildCode.exists(_.contains("-XX:ReservedCodeCacheSize=")))
  }

  test("this forked JVM's compiler count came from ergonomics, not its command line") {
    val hs = java.lang.management.ManagementFactory.getPlatformMXBean(
      classOf[com.sun.management.HotSpotDiagnosticMXBean])
    val opt = hs.getVMOption("CICompilerCount")
    assert(opt.getOrigin != com.sun.management.VMOption.Origin.VM_CREATION,
      s"CICompilerCount=${opt.getValue} was set on the JVM command line")
  }
}

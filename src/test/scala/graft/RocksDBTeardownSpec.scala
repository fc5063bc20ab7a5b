package graft

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** Regression fence for the RocksDB teardown SIGSEGV (SCALE.md §2,
  * r8 VERDICT ask #2): tears down a changelog-checkpointed
  * transformWithState query in a FORKED JVM via
  * [[graft.stream.TeardownProbe]] (queries → StateStore.stop() →
  * spark.stop()) and asserts a clean
  * exit. A recurrence of the native crash is an exit code here
  * (SIGSEGV → 134/139), not a killed test suite; the probe holds its
  * JVM open 20 s past stop because the soak's crash arrived ~16 s
  * after `spark.stop()` returned, on a native background thread.
  *
  * Reproduction status (round 9): probes calling `spark.stop()`
  * directly (the sequence the soak crashed under) at 200k and 3×2M
  * events all exited clean — the race needs the 10M soak's compaction
  * pressure to fire. The ordered sequence removes the raced window by
  * construction (providers and their JNI loggers close while the JVM
  * is fully alive), and this spec keeps that sequence exercised.
  */
class RocksDBTeardownSpec extends AnyFunSuite {

  test("ordered teardown of a changelog-checkpointed tws query exits clean") {
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val cp = sys.props("java.class.path")
    val opens = Seq(
      "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ opens ++ Seq(
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-Xmx3g", "-cp", cp,
      "graft.stream.TeardownProbe", "100000", "100000")
    val out = new StringBuilder
    val exit = Process(cmd, None, "SPARK_GRAFT_CPUS" -> "4")
      .!(ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(exit === 0, s"probe JVM exited $exit (SIGSEGV=134/139)")
    assert(out.toString.contains("\"clean_exit\":true"),
      s"probe did not report a clean exit:\n${out.toString.takeRight(500)}")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression fence for the RocksDB teardown SIGSEGV (SCALE.md §2,
  * r8 VERDICT ask #2): tears down a throttle query on the RocksDB
  * store with changelog checkpointing in a FORKED JVM via
  * [[TeardownProbe]] (queries → StateStore.stop() →
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

  test("ordered teardown of a changelog-checkpointed throttle query exits clean") {
    val TestSpark.Forked(exit, out, _) = TestSpark.forkMain(
      "graft.TeardownProbe", Seq("100000", "100000"), "SPARK_GRAFT_CPUS" -> "4")
    assert(exit === 0, s"probe JVM exited $exit (SIGSEGV=134/139)")
    assert(out.contains("\"clean_exit\":true"),
      s"probe did not report a clean exit:\n${out.takeRight(500)}")
  }
}

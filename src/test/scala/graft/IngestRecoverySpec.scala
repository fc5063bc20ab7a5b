package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Crash/restart recovery proof for the full ingest topology (r9
  * verdict ask #4), on both state-store providers: fork
  * [[RecoveryProbe]] `crash` (hard `Runtime.halt(42)` while the alert
  * query is MID-BATCH — offsets/1 written, commits/1 not), then fork
  * `resume` on the same checkpoints and assert
  *
  *  - the crash image really was mid-batch (the probe checks the
  *    offset/commit logs before restarting);
  *  - exactly-once alert routing: each fired alert appears ONCE in the
  *    file sink's committed (_spark_metadata) view after the replay;
  *  - throttle-state continuity: the {a1, b1, a3} signature — a2
  *    (inside a1's 5-min window, straddling the crash) stays
  *    suppressed and a3 (+7 min) fires, which is only possible if
  *    loc_1's lastSent=12:00 state survived the death; lost state
  *    yields the disjoint {a1, a2, b1} signature instead;
  *  - no record loss in the lake (foreachBatch json append is
  *    documented at-least-once under crash replay, so counts are ≥1,
  *    not ==1).
  *
  * This proves the operational crash story ST6 rests on.
  */
class IngestRecoverySpec extends AnyFunSuite {

  private def fork(mode: String, root: String, provider: String,
      out: StringBuilder): Int = {
    val r = TestSpark.forkMain("graft.RecoveryProbe", Seq(mode, root, provider),
      "SPARK_GRAFT_CPUS" -> "4")
    out.append(r.out)
    if (r.exit != 0 && r.exit != 42)
      out.append("--- stderr tail ---\n").append(r.errTail)
    r.exit
  }

  private def roundTrip(provider: String): Unit = {
    val root = Files.createTempDirectory(s"graft_recovery_$provider").toString
    val crashOut = new StringBuilder
    val crashExit = fork("crash", root, provider, crashOut)
    assert(crashExit === 42,
      s"crash probe exited $crashExit (expected the deliberate halt 42):\n" +
        crashOut.toString.takeRight(4000))

    val resumeOut = new StringBuilder
    val resumeExit = fork("resume", root, provider, resumeOut)
    assert(resumeExit === 0,
      s"resume probe exited $resumeExit:\n${resumeOut.toString.takeRight(4000)}")
    val line = resumeOut.toString.linesIterator
      .find(_.startsWith("""{"probe":"resume"""))
      .getOrElse(fail(s"no resume JSON:\n${resumeOut.toString.takeRight(4000)}"))

    assert(line.contains(""""crash_was_mid_batch":true"""),
      s"crash image was not mid-batch (commits/1 already present): $line")
    // exactly-once + state continuity: a1, b1, a3 each once; a2 never
    val alerts = """"(evt_\w+)=([^"]+)"""".r
      .findAllMatchIn(line.substring(line.indexOf(""""alerts""""),
        line.indexOf(""""lake"""")))
      .map(m => m.group(1) -> m.group(2)).toSeq
    val byEvent = alerts.groupBy(_._1).view.mapValues(_.size).toMap
    assert(byEvent === Map("evt_a1" -> 1, "evt_b1" -> 1, "evt_a3" -> 1),
      s"alert signature wrong (state lost ⇒ {a1,a2,b1}; dupes ⇒ count>1): $alerts")
    assert(alerts.forall(_._2 == "High Temperature"), alerts.toString)
    // lake: no record loss across the crash (dupes allowed: foreachBatch
    // json append replays at-least-once)
    val lake = """"(evt_\w+):(\d+)"""".r
      .findAllMatchIn(line.substring(line.indexOf(""""lake"""")))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    for (e <- Seq("evt_a1", "evt_a2", "evt_a3", "evt_b1", "evt_ok"))
      assert(lake.getOrElse(e, 0L) >= 1L, s"$e lost from lake: $lake")
  }

  test("hard mid-batch crash + restart: exactly-once alerts, throttle state continuity (HDFS provider)") {
    roundTrip("hdfs")
  }

  test("hard mid-batch crash + restart: exactly-once alerts, throttle state continuity (RocksDB provider, changelog checkpointing)") {
    roundTrip("rocksdb")
  }
}

package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The farm loop writes its local files without spawning a process per
  * file: one cold [[SpawnProbe]] round (an AvailableNow ingest drain and
  * a two-increment star-schema load with parquet writes) runs in a forked
  * JVM whose `PATH` starts with logging wrappers for `chmod` and
  * `readlink`, and neither may be spawned. Hadoop's own local
  * filesystem, without its native library, spawns ~105 `chmod` and ~120
  * `readlink` per drain and ~70 `chmod` per increment.
  */
class SpawnSpec extends AnyFunSuite {

  /** A wrapper that logs its name and arguments, then execs the real binary. */
  private def wrapper(bin: Path, log: Path, cmd: String): Unit = {
    val real = sys.env("PATH").split(':').iterator
      .map(d => new java.io.File(d, cmd)).find(_.canExecute)
      .getOrElse(fail(s"no $cmd on PATH")).getPath
    val script = bin.resolve(cmd)
    Files.write(script,
      s"""#!/bin/sh\necho "$cmd $$*" >> "$log"\nexec "$real" "$$@"\n""".getBytes(UTF_8))
    Files.setPosixFilePermissions(script, PosixFilePermissions.fromString("rwxr-xr-x"))
  }

  test("a drain and an ETL round spawn no chmod and no readlink") {
    val root = Files.createTempDirectory("graft_spawns")
    val bin = Files.createDirectory(root.resolve("bin"))
    val log = Files.createFile(root.resolve("spawns.log"))
    Seq("chmod", "readlink").foreach(wrapper(bin, log, _))
    val r = TestSpark.forkMain("graft.SpawnProbe",
      Seq(root.resolve("run").toString, "1", "400", "4", "2"),
      "SPARK_GRAFT_CPUS" -> "4",
      "PATH" -> s"$bin:${sys.env("PATH")}",
      "SPAWNS_LOG" -> log.toString)
    assert(r.exit === 0, s"probe exited ${r.exit}:\n${r.out}\n${r.errTail}")
    // the round did its work: every event landed and the fact was written
    assert(r.out.contains(""""landed":400,"""), r.out)
    assert(!r.out.contains(""""fact_rows":0}"""), r.out)
    val spawned = Files.readAllLines(log).asScala.toSeq
    assert(spawned.size === 0,
      s"${spawned.size} spawns, per phase:\n${r.out}\nfirst: ${spawned.take(5).mkString("\n")}")
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt runs suites in one
  * forked JVM; spinning a session per suite triples test time).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("4")

  /** The RocksDB state store provider, as a [[withConf]] pair. */
  val RocksDb: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs `body` with the given session confs set, then restores each
    * to its previous value (or unsets it). Streaming confs such as the
    * state store provider are read at query start, so queries started
    * inside `body` see them and other tests keep the defaults.
    */
  def withConf[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** What a forked main left behind: its exit code, its stdout, and the
    * last 60 lines of its stderr (Spark logs there, and a JVM that dies
    * before printing its result is undiagnosable without them).
    */
  final case class Forked(exit: Int, out: String, errTail: String)

  /** Runs `main` from the test classpath in a fresh JVM — the way
    * build.sbt forks one (JDK 17 add-opens, UTC session time zone, no
    * UI) with a 3g heap — and waits for it to exit. Use it for a probe
    * whose failure mode is a dead JVM (a native crash, a deliberate
    * halt) rather than an exception.
    */
  def forkMain(main: String, args: Seq[String],
      env: (String, String)*): Forked = {
    val opens = Seq(
      "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ opens ++ Seq(
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-Xmx3g", "-cp", sys.props("java.class.path"), main) ++ args
    val out = new StringBuilder
    val errTail = new java.util.ArrayDeque[String](64)
    val exit = scala.sys.process.Process(cmd, None, env: _*)
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'), l => {
        if (errTail.size >= 60) errTail.removeFirst()
        errTail.addLast(l)
      }))
    val err = new StringBuilder
    errTail.forEach(l => err.append(l).append('\n'))
    Forked(exit, out.toString, err.toString)
  }
}

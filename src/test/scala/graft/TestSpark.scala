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
}

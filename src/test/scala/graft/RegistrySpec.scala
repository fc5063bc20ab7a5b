package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants of the driver contract: `queries` is built as
  * a Map over the registry, so a DUPLICATE query name would silently
  * drop one implementation (and its oracle) from the gate — the kind
  * of regression nothing else would catch until coverage quietly
  * shrank. Also pins the entry smoke check the driver runs.
  */
class RegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("registry names are unique, well-formed, and oracle keys match") {
    val names = SparkEntry.registry.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    names.foreach(n => assert(n.matches("q\\d+_[a-z0-9_]+"), s"odd name: $n"))
    // every oracle belongs to a registered query (Map construction
    // guarantees the other direction)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("query code reads no environment variables") {
    // query semantics must not depend on the caller's environment:
    // env-var forks in query code let a run measure or verify a plan
    // other than the one the registry ships
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"source tree not found under ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val hits = Seq("ext", "rules", "etl", "schema", "queries", "functions")
      .flatMap(d => files(new java.io.File(root, d)))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (l, i) if l.contains("sys.env") || l.contains("System.getenv") =>
            s"${f.getPath}:${i + 1}"
        }.toList finally src.close()
      }
    assert(hits.isEmpty, s"environment reads in query code: ${hits.mkString(", ")}")
  }

  test("the SPARK_GRAFT_* variables read are exactly the README's table") {
    // an env knob nobody documents is a configuration nobody tests; a
    // documented one nothing reads is a dead instruction
    val knob = "SPARK_GRAFT_[A-Z][A-Z0-9_]*".r
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    def text(f: java.io.File): String = {
      val src = scala.io.Source.fromFile(f, "ISO-8859-1")
      try src.mkString finally src.close()
    }
    val sources = files(new java.io.File("src/main")) ++
      files(new java.io.File("tools")) :+ new java.io.File("build.sbt")
    assert(sources.size > 2, "source tree not found")
    val read = sources.flatMap(f => knob.findAllIn(text(f))).toSet
    val table = text(new java.io.File("README.md")).linesIterator
      .filter(_.startsWith("| `SPARK_GRAFT_"))
      .flatMap(knob.findFirstIn).toSet
    assert(read === table,
      s"read but not in the README table: ${(read -- table).mkString(", ")}; " +
        s"in the table but not read: ${(table -- read).mkString(", ")}")
  }

  test("entry() smoke: flagship query returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("CacheScope.eager materializes at call time and drains like scoped") {
    // eager's contract (the q127 shingle-cache fix): consumers must
    // find FULLY BUILT blocks — the fill happens inside the call, not
    // lazily at first downstream action — and the blocks must still be
    // released by the same drain() every runner already calls.
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    CacheScope.drain()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val ds = spark.range(1000).select(col("id"), (col("id") * 2).as("v"))
      .transform(CacheScope.eager)
    // materialized NOW: every partition cached before any consumer runs
    val info = spark.sparkContext.getRDDStorageInfo
      .find(_.numCachedPartitions > 0)
    assert(info.isDefined, "eager did not materialize any cached blocks")
    assert(info.get.numCachedPartitions === info.get.numPartitions,
      "eager fill left partitions unmaterialized")
    assert(ds.agg(sum("v")).collect()(0).getLong(0) === 999000L)
    CacheScope.drain()
    // drain is async; block removal completes quickly on local
    eventuallyEmpty()
  }

  private def eventuallyEmpty(): Unit = {
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (sc.getPersistentRDDs.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(sc.getPersistentRDDs.isEmpty, "eager cache not released by drain")
  }

  test("no registry query leaks persistent RDDs past CacheScope.drain()") {
    // The r6 persist-leak gate: every persist()/localCheckpoint() on a
    // registry query path must be registered with CacheScope, so that
    // a runner's post-action drain() releases ALL cached blocks — a
    // leaked relation isn't just memory pressure, it skews AQE size
    // estimates for every later query in the session (the q148
    // suite-order lesson). A raw .persist() added without scope
    // registration fails here with the offending query's name.
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    CacheScope.drain()
    // other suites may have left blocks behind in the shared session;
    // start from a clean slate so leaks are attributable
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(sc.getPersistentRDDs.isEmpty)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      fn(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      CacheScope.drain()
      val leaked = sc.getPersistentRDDs
      assert(leaked.isEmpty,
        s"$name leaked ${leaked.size} persistent RDD(s): " +
          leaked.values.map(_.name).mkString(", "))
    }
  }
}

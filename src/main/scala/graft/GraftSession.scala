package graft

import org.apache.spark.sql.SparkSession

import graft.io.{NioLocalFileSystem, NioLocalFs}

/** One place to build the engine's SparkSession so every entry point
  * (Verify, Bench, the soak and streaming mains, tests) runs with
  * identical semantics.
  *
  * Session-wide flags set here rather than inside loaders (keeps loader
  * behavior call-order independent):
  *  - `spark.sql.legacy.parquet.nanosAsLong`: earlier testdata
  *    generations carried `events.ts` as TIMESTAMP(NANOS), which
  *    Spark's parquet reader has no timestamp type for; this public
  *    flag reads such nanos as a plain long (truncated to µs in
  *    [[Tables.events]]). Harmless for the current timestamp[us] data —
  *    kept so the type-adaptive loader still works if the driver ever
  *    regenerates back to nanos.
  *  - UTC session time zone: all reference timestamps are UTC
  *    (ISO-8601 + "Z", `Producer /producer.py:357`), and the DuckDB
  *    oracle compares in UTC.
  *  - AQE on with a 32 MB advisory partition size: at bench scale it
  *    coalesces the fixed shuffle-partition count down to the data; on
  *    a real cluster it re-plans skew joins at runtime.
  *  - Generated class names without the codegen stage id
  *    (`spark.sql.codegen.useIdInClassName=false`): the codegen cache is
  *    keyed by the class's source, and the id made the same stage shape
  *    a new source under every new stage id, so it compiled again. Every
  *    query, registry and ETL alike, reuses what an earlier one compiled.
  *  - The `file:` filesystem (`spark.hadoop.fs.file.impl` and
  *    `spark.hadoop.fs.AbstractFileSystem.file.impl`): [[graft.io]]'s
  *    classes, which create local files without spawning a `chmod` per
  *    file, `.crc` sidecar and directory, or a `readlink` per FileContext
  *    status (Hadoop's local filesystem does both without its native
  *    library). Every writer inherits them: the lake and alert sinks, the
  *    offset/commit logs, state-store deltas and the ETL's parquet. Set on
  *    a pre-existing session's Hadoop configuration too; a `file:`
  *    `FileSystem` instance cached before that point is kept (Hadoop's
  *    cache key has no configuration in it).
  */
object GraftSession {
  /** The engine's `file:` filesystem, FileSystem and FileContext. */
  private val LocalFs = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** Cores a local session runs on: `SPARK_GRAFT_CPUS` (the deployment
    * setting; "*" means every core), else every core of this host — a
    * default that never oversubscribes the machine it runs on.
    */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").filter(_ != "*")
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: String = cores.toString): SparkSession = {
    // "*" is valid for the master but not as a shuffle-partition count.
    // SPARK_GRAFT_SHUFFLE overrides for partition-sizing experiments
    // (the soak mains' existing dial, honored here too since r17);
    // default stays the core count so the driver bench is unchanged.
    val nShuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
      if (cpus == "*") Runtime.getRuntime.availableProcessors().toString else cpus)
    // SPARK_GRAFT_MASTER overrides the master URL — the scale-proof
    // path: `local-cluster[4,8,8192]` runs REAL separate executor JVMs
    // (standalone-mode workers under SPARK_HOME) with real
    // serialization, network-path exchanges, and per-executor heaps —
    // the regime a single-process local[n] can't exercise (closure
    // capture, broadcast transport, task-result limits). Executors
    // boot from SPARK_HOME's jars, so only our compiled classes need
    // shipping: extraClassPath defaults to this class's code source
    // (target/scala-2.13/classes under sbt).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder0 = SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
    val builder =
      if (master.startsWith("local-cluster")) builder0
        .config("spark.executor.extraClassPath", sys.env.getOrElse(
          "SPARK_GRAFT_EXEC_CP",
          new java.io.File(getClass.getProtectionDomain.getCodeSource
            .getLocation.toURI).getAbsolutePath))
        // standalone executors default to 1g regardless of the worker
        // memory in the master string; size the executor heap to the
        // worker's grant (local-cluster[4,8,8192] → ≤8g per executor)
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "6g"))
      else builder0
    val spark = builder
      // Codegen class cache (STATIC conf — only effective here, before
      // the session exists; r16 opt round): the default cache holds 100
      // generated classes, and a 177-query registry emits far more
      // WholeStageCodegen/expression spans than that, so back-to-back
      // queries (and Bench's in-JVM repeats) evicted and re-compiled
      // the same Janino sources every run — pure fixed overhead at any
      // scale (compilation happens on the driver/executor regardless of
      // data size). 4096 entries keeps every registry span resident;
      // the cache stores compiled classes, so the cost is a few tens of
      // MB of metaspace, not data memory.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Force the SORT shuffle-write path at every partition count
      // (r17, the measured root cause of the r16 32-core bench
      // anomalies): with R ≤ 200 reduce partitions and no map-side
      // combine, Spark's BypassMergeSortShuffleWriter opens R
      // per-partition files per map task and then merges them with
      // FileChannel.transferTo — one mmap+munmap per partition file,
      // and every munmap is a TLB-shootdown IPI broadcast to all 32
      // vCPUs of this virtualized host. Thread dumps under q175 showed
      // task threads RUNNABLE inside map0/unmap0/open0 (149 of 214
      // samples), not compute; q102 job profile at 32 cores: 15.3 task-run
      // seconds with bypass vs 1.4 without (wall 1.3 → 0.67 s, at
      // 8-core parity). Production-scale neutral BY CONSTRUCTION: the
      // bypass path only exists for R ≤ 200, and any real cluster job
      // runs hundreds-to-thousands of reduce partitions, i.e. already
      // uses the sort path this pins — the bench now measures the same
      // writer production would.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // One executor class loader for every session (STATIC: read when
      // a session is created). Spark's codegen cache is keyed by (task
      // class loader, source), and with per-session artifact isolation
      // each session — including the clone every streaming query runs
      // on — gets its own executor class loader, so every query start
      // would recompile all of its generated classes (33 per ingest
      // drain, ~1 s of compile with the other tasks of the stage blocked
      // on it). The engine adds no per-session jars or files, so there
      // is nothing to isolate.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Name generated classes without the codegen stage id. A
      // whole-stage class embeds its stage id in its name, so the codegen
      // cache (keyed by source) missed whenever a stage shape it already
      // held came back under another id — after a warm-up, in the next
      // ETL increment, or when AQE re-plans — and Janino compiled it
      // again (69 → 43 compiles on a cold farm ETL increment). The id
      // only labels the class; it changes nothing the class does.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Local files without a process per file (header).
      .config(LocalFs.map { case (k, v) => s"spark.hadoop.$k" -> v }.toMap)
      .config("spark.sql.shuffle.partitions", nShuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // getOrCreate() may have returned a PRE-EXISTING session (shell,
    // notebook) whose builder configs were silently ignored. The
    // semantics-bearing settings above are all runtime SQL confs, so
    // re-assert them on whatever session came back; the kernels are
    // registered imperatively for the same reason (the extensions hook
    // only fires for sessions built with it), and the `file:` classes are
    // set on the context's Hadoop configuration, which every later
    // session and task conf is copied from.
    Seq(
      "spark.sql.shuffle.partitions" -> nShuffle,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32m"
    ).foreach { case (k, v) => spark.conf.set(k, v) }
    LocalFs.foreach { case (k, v) => spark.sparkContext.hadoopConfiguration.set(k, v) }
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.VectorExpressions.register(spark)
    spark
  }
}

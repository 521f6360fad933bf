package graft

import org.apache.spark.sql.SparkSession

/** Single construction point for every SparkSession in the library's
  * mains and tests. All engine-wide knobs — the generated-class cache
  * among them — live HERE and only here —
  * operators and readers must never mutate session config as a side
  * effect (a `spark.conf.set` inside a read flips a global knob for every
  * later query in the session).
  */
object Sessions {

  private val warehouseDir =
    s"${System.getProperty("java.io.tmpdir")}/graft-warehouse-${ProcessHandle.current().pid()}"

  private val cleanupRegistered = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** The per-process temp warehouse would otherwise leak (q90's bucketed
    * fact copies are the big offenders) — one shutdown hook removes it.
    *
    * Ordering matters: raw `Runtime.addShutdownHook` threads run
    * CONCURRENTLY with Spark's teardown, so the recursive delete could
    * race a streaming query's final checkpoint/commit into a warehouse
    * table. Spark runs all of its own hooks through Hadoop's
    * single-threaded ShutdownHookManager at priority
    * `FileSystem.SHUTDOWN_HOOK_PRIORITY + 30` (= 40, descending order),
    * so registering this delete there at a LOWER priority guarantees it
    * starts only after every Spark hook (SparkContext stop, streaming
    * commits) has finished. 25 also keeps it ahead of Hadoop's
    * FileSystem-cache close (priority 10).
    */
  private def registerWarehouseCleanup(): Unit =
    if (cleanupRegistered.compareAndSet(false, true))
      org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
        new Runnable {
          override def run(): Unit = {
            def rm(f: java.io.File): Unit = {
              if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
              f.delete(); ()
            }
            rm(new java.io.File(warehouseDir))
          }
          // explicit timeout: the no-timeout overload applies Hadoop's
          // 30 s default, which a large warehouse (bucketed fact copies
          // = thousands of files at high SF) can exceed — a cancelled
          // delete is exactly the leak this hook exists to prevent
        }, 25, 10, java.util.concurrent.TimeUnit.MINUTES)

  /** Per-process scratch dir for queries that stage data on local disk
    * (format round-trips, fixtures). Lives INSIDE the per-process
    * warehouse dir so the same shutdown hook removes it — repeated
    * Verify/Bench runs must not accrete staging dirs in /tmp. (Catalog
    * databases materialize as `<db>.db/` under the warehouse root, so a
    * bare `staging/` never collides with one.)
    */
  def stagingDir(name: String): String = s"$warehouseDir/staging/$name"

  /** Default parallelism for the heavy mains (Verify/Bench): all the
    * machine's cores, capped at 32 (the target local[32] shape). The
    * baseline comparator runs DuckDB with 32 threads on this box —
    * defaulting to 4 would measure a quarter of the machine.
    */
  def defaultCpus: String =
    math.min(32, Runtime.getRuntime.availableProcessors()).toString

  /** Standard local builder: `local[cpus]`, shuffle partitions = cpus
    * (local mode; a real cluster sizes this to executor count × cores),
    * UTC, AQE on, ns-longs for TIMESTAMP(NANOS) parquet, partition-type
    * inference off (bronze partition values stay strings; silver owns
    * typing — SURVEY §7 hard part 2).
    */
  def local(appName: String, cpus: String): SparkSession.Builder = {
    registerWarehouseCleanup()
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS): read as int64 ns (the
      // engine's ns-longs duration/time convention, SURVEY §1.2)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // generated-class cache: a static, JVM-wide conf that CodeGenerator
      // reads once, when its cache is first built — so it must be set
      // before the process's first session exists, and a later
      // `spark.conf.set` does nothing. One headline pass generates more
      // than 100 classes, so Spark's default of 100 evicts each class
      // before the next pass asks for it again and every warm pass
      // recompiles. The full registry needs more than 2,000 (Bench's
      // full set: 88.5 s at 2,000 entries vs 66.5 s at 10,000); retained
      // heap follows the number of distinct classes, not this cap.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // the cache is keyed by the generated source, and by default the
      // class name carries the whole-stage codegen id. AQE numbers stages
      // in the order their inputs finish, so the same stage can come back
      // under another id (q33 at sf0.001: 4 fresh classes on a random
      // later pass) and be compiled again. Without the id in the name one
      // plan always hits the cache.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // scan-split size for THIS local builder only (a cluster deploy
      // owns the knob in spark-submit conf, where the 128m default is
      // right because inputs arrive as thousands of files). Local
      // sessions read the single-file testdata parquet: at 128m a
      // 184 MB lineitem file yields TWO splits, serializing every
      // scan-rooted pipeline to 2 of local[32]'s cores while DuckDB
      // reads the same file's 49 row groups on all 32 threads. 8m ≈
      // largest-file/cores at the bench scale and still a multiple of
      // the writer's ~4 MB on-disk row groups, so splits stay non-empty.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"))
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      // streaming state store: HDFSBacked — state here is tiny and it
      // avoids RocksDB's native-lib setup cost
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      // trust the sort order of bucketed tables at scan time (off by
      // default since 3.0). Safe: Spark only attaches the ordering when
      // a bucket is a SINGLE file, and Skew.bucketed guarantees that by
      // pre-repartitioning on the bucket keys — this is what removes
      // the per-query Sort from sorted-bucketed merge joins
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // catalog tables (bucketed join tables, lakehouse builds) land in
      // a per-process temp warehouse, not ./spark-warehouse — keeps the
      // repo clean and two concurrent mains from racing on one dir;
      // removed by a shutdown hook so repeated runs don't fill /tmp
      .config("spark.sql.warehouse.dir", warehouseDir)
  }

  /** The cleanup step between two queries in one JVM. Operators may
    * persist self-join intermediates; drop them so each query starts on
    * a clean executor (no cross-query GC pressure from accumulated
    * cached frames). clearCache() only drops catalog-cached tables —
    * eager localCheckpoint RDDs and async-unpersisting blocks survive it
    * and contaminate every later query in the same JVM (measured ~3×
    * inflation on checkpoint-heavy ops), so ALSO unpersist every
    * persistent RDD synchronously and nudge a GC so block-manager memory
    * is really back before the next query starts. Session-shared tables
    * live in the warehouse, not in RDD blocks, so they survive this.
    */
  def releaseCached(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** The knob [[graft.pipeline.Bronze.read]] depends on; asserted there,
    * set here.
    */
  def assertNoPartitionTypeInference(spark: SparkSession): Unit =
    require(
      spark.conf.get("spark.sql.sources.partitionColumnTypeInference.enabled") == "false",
      "session must be built with partitionColumnTypeInference disabled " +
        "(use graft.Sessions.local) — bronze partition values must stay strings")
}

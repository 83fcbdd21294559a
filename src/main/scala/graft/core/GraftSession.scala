package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the session concerns of the reference
  * (`/root/reference/src/etl/bronze_to_silver.py:21-29`: appName + object-store
  * config) but tuned for Spark 4.x analytics at scale:
  *   - AQE on (runtime coalescing / skew-join splitting — essential on real
  *     clusters where per-partition sizes are unknowable at plan time),
  *   - UTC session timezone + CORRECTED time parser (locale-stable parsing of
  *     the reference's `yyyy-MMM-dd HH:mm` timestamps),
  *   - nested-schema pruning (the reference projects 4-deep JSON paths;
  *     pruning keeps the parquet/JSON scan narrow),
  *   - shuffle partitions sized for the local harness via `SPARK_GRAFT_CPUS`
  *     (a real deployment would size this to ~2-3x total executor cores).
  */
object GraftSession {

  def defaultParallelism: Int =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Apply engine defaults onto an arbitrary builder (so Verify/Bench can
    * keep their own master/memory settings). */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
      // some generator vintages stamp events.ts as INT64 TIMESTAMP(NANOS),
      // which Spark's reader rejects; read those as long nanos and convert
      // in Tables.events (micros-NTZ vintages are normalized there too).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // streaming state on RocksDB: the default HDFS-backed provider keeps
      // every key in executor heap — at 100 TB-scale state (stream-stream
      // join buffers, session maps) that is an OOM, RocksDB spills to
      // local disk with changelog checkpointing. All streaming parity
      // specs run on this provider.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // split-size ceiling: with executor memory sized for ~4 concurrent
      // 128 MB columnar batches per core, scans neither spill nor starve
      // parallelism at 100 TB (tune with executor memory, not per query)
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      // generated-class cache: Spark keeps compiled whole-stage and
      // expression classes in one JVM-wide LRU, built once per JVM from
      // this static conf, default 100 entries. One pass over the declared
      // surface compiles 5,200 distinct classes (graft.Verify at sf0.001,
      // fresh JVM, unbounded cache); the 20-query floor mix alone compiles
      // ~570, so at 100 every warm re-run of a query recompiled (and
      // re-JITted) its classes. 8192 holds the whole surface with ~1.6x
      // headroom; holding it cost ~13 MB of metaspace at the end of that
      // pass (PLANS.md, "Codegen class cache", has the RSS readings).
      .config("spark.sql.codegen.cache.maxEntries", "8192")

  /** Aggressive ContextCleaner cadence for LONG-RUNNING multi-query
    * sessions (Verify's 270+-query dump; any app looping queries for
    * minutes): the default 30-min periodic GC is longer than the whole
    * run, so torrent broadcast blocks from hundreds of broadcast joins
    * accrue on the heap until an allocation-pressure GC happens to run
    * finalizers in time (round-11: a pass-2 q213 OOM at -Xmx8g killed a
    * whole bench artifact). Deliberately NOT in [[tune]] (round-12,
    * ADVICE): a 2-min driver System.gc is the wrong default for ordinary
    * sessions — the entry points that loop queries opt in. (Bench opts
    * OUT even of this: it collects explicitly between queries, in the
    * untimed region, so no GC stall can land inside a timed run.) */
  def longSession(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.cleaner.periodicGC.interval", "2min")

  /** Local session for tests / ad-hoc runs. */
  def local(appName: String = "graft", cores: Int = defaultParallelism): SparkSession = {
    val spark = tune(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions = cores
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session whose catalog PERSISTS across processes — the Spark analog of
    * the reference's DuckDB catalog FILE
    * (`/root/reference/src/gold_catalog.py:19-20` connects to
    * `nasa_asteroids.duckdb`: views registered in one run are visible to
    * the next). Uses the Hive catalog implementation with a caller-pinned
    * Derby metastore + warehouse directory: `metaDir` IS the catalog file,
    * and any later session pointed at the same `metaDir` sees every table
    * registered through [[graft.etl.GoldCatalog.registerPersistent]]. On a
    * real cluster the same two configs point at the shared metastore
    * (thrift URI) instead of a local Derby path — nothing else changes. */
  def persistent(appName: String, metaDir: String,
                 cores: Int = defaultParallelism): SparkSession = {
    // a prior embedded-Derby engine shutdown (the documented way to release
    // a metastore between same-JVM sessions) also DEREGISTERS the JDBC
    // driver; instantiating EmbeddedDriver is Derby's documented reboot
    try Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
      .getDeclaredConstructor().newInstance()
    catch { case _: Throwable => () }
    val spark = tune(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions = cores)
      .config("spark.sql.warehouse.dir", s"$metaDir/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$metaDir/metastore_db;create=true")
      // forked JVMs don't service-discover the Derby driver off the
      // unmanaged Spark classpath — name it explicitly for DataNucleus
      .config("javax.jdo.option.ConnectionDriverName",
        "org.apache.derby.jdbc.EmbeddedDriver")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Crash tolerance (the round-9 P0): `oracle_sql.json` is written FIRST,
  * before any query runs — a harness time budget that kills the dump loop
  * mid-way still leaves the oracle file plus every completed per-query
  * parquet dir, so the driver records a PARTIAL correctness result instead
  * of `{}`. A `progress.json` manifest is rewritten after every completed
  * query for the same reason.
  *
  * Throughput: queries run on a bounded thread pool (default 8 — Spark's
  * scheduler is thread-safe and local[N] shares task slots FIFO across
  * concurrent jobs). At sf0.01 each query is planning-bound (~1 s analysis
  * + tiny execution), so K concurrent queries cut wall clock ~K× — round 9
  * measured the serial loop at ~22 min, past the driver budget. Per-query
  * caches are cleared at pool-drain barriers (every batch), not per query:
  * clearCache from one thread mid-flight of another is CORRECT (unpersist
  * ⇒ recompute; every query is deterministic by oracle construction) but
  * wasteful, so batching avoids it. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession.longSession(graft.core.GraftSession.tune(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-verify"),
      shufflePartitions = cpus.toInt
    )).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // FIRST thing on disk: the oracle map. Everything after this point is
    // incremental; a killed run degrades to partial correctness, not zero.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // optional comma-separated name filter (iteration aid; driver runs all)
    val queries = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(names) =>
        val keep = names.split(",").map(_.trim).toSet
        SparkEntry.queries.filter { case (n, _) => keep(n) }
      case None => SparkEntry.queries
    }
    val t0 = System.nanoTime()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def writeProgress(): Unit = synchronized {
      val ok = done.toArray(Array.empty[String]).sorted
      val bad = failed.toArray(Array.empty[String]).sorted
      val body = s"""{"total": ${queries.size}, "done": ${ok.length}, """ +
        s""""failed": ${bad.map(q).mkString("[", ",", "]")}, """ +
        s""""elapsed_sec": ${(System.nanoTime() - t0) / 1e9}}"""
      try Files.writeString(Paths.get(s"$outDir/progress.json"), body)
      catch { case _: Throwable => () }
    }
    val threads = sys.env.get("SPARK_GRAFT_VERIFY_THREADS").map(_.toInt)
      .getOrElse(math.min(8, cpus.toInt)).max(1)
    val names = queries.keys.toSeq.sorted
    // batches = pool-drain barriers; clearCache between batches only
    names.grouped(threads * 4).foreach { batch =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val futs = batch.map { name => scala.concurrent.Future {
        try {
          queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          done.add(name)
        } catch { case e: Throwable =>
          failed.add(name)
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        writeProgress()
      }}
      futs.foreach(f => scala.concurrent.Await.ready(f,
        scala.concurrent.duration.Duration.Inf))
      pool.shutdown()
      // free per-batch intermediate caches between the 240+ dumps
      spark.catalog.clearCache()
    }
    writeProgress()
    System.err.println(f"[verify] ${done.size}/${queries.size} dumped in " +
      f"${(System.nanoTime() - t0) / 1e9}%.0f s (${failed.size} failed)")
    // the pass's generated-class working set: with the codegen cache sized
    // above it (GraftSession.tune), every distinct class compiles once
    val metaspaceMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.find(_.getName == "Metaspace").map(_.getUsage.getUsed / 1048576.0)
      .getOrElse(0.0)
    val compiled = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    System.err.println(f"[verify] codegen compiled $compiled classes; metaspace $metaspaceMb%.0f MB")
    spark.stop()
  }
}

package lakebench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** JVM side of one benchmark run: `lakebench.Main <plan.json>`.
  *
  * The plan (written by run.py) names the workload, the per-round input
  * directories, the op lists and the scratch directory. The run sets up
  * once per round (a fresh session each time), measures whole passes
  * over the op list until the time budget is spent, checks its outputs
  * without a clock, and writes `result.json` (plus `spans.json` when
  * traced) into the scratch directory.
  */
object Main {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def session(cores: Int, scratch: String): SparkSession = {
    val spark = graft.core.GraftSession.tune(
      SparkSession.builder().master(s"local[$cores]").appName("lakebench"), cores)
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val plan = new ObjectMapper().readTree(new java.io.File(args(0)))
    val workload = plan.get("workload").asText
    val cores = plan.get("cores").asInt
    val scratch = plan.get("scratch").asText
    val seconds = plan.get("seconds").asDouble
    val trace = plan.get("trace").asBoolean
    val minPasses = plan.get("min_passes").asInt
    val capS = plan.get("cap_s").asDouble
    val inputs = Workload.strs(plan.get("inputs"))
    val rec = new Recorder(cores)
    val wl: Workload = workload match {
      case "floor_mix" | "heavy_mix" => new QueryMix(plan, rec)
      case "txlog_dml" => new TxlogDml(plan, rec, scratch)
      case "medallion_backfill" => new Medallion(plan, rec, scratch)
    }
    def elapsedS = (System.nanoTime() - t0) / 1e9

    // set-up rounds: session, table registration and warm-up, each on a
    // fresh session over its own copy of the generated inputs
    var spark: SparkSession = null
    val setup = inputs.zipWithIndex.map { case (in, k) =>
      val start = System.currentTimeMillis()
      val (s, sessionMs) = Workload.timed(session(cores, scratch))
      spark = s
      val (tablesMs, warmMs) = wl.setup(spark, in, k)
      val end = System.currentTimeMillis()
      if (k < inputs.size - 1) spark.stop()
      Map("start_ms" -> start, "end_ms" -> end, "session_ms" -> sessionMs,
        "tables_ms" -> tablesMs, "warm_ms" -> warmMs)
    }
    rec.perCall("core.session_ms") = ArrayBuffer.from(setup.map(_("session_ms").asInstanceOf[Double]))
    rec.perCall("core.tables_ms") = ArrayBuffer.from(setup.map(_("tables_ms").asInstanceOf[Double]))

    // Pass 0 is the cold pass: it runs every op once on a fresh session
    // and is reported on its own. The measured window starts at pass 1
    // and runs whole passes for `seconds`. A traced run alternates traced
    // and untraced passes after it, so its overhead is read in one process.
    val tracer = new Tracer(spark, t0)
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var measureT0 = 0L
    def measuredS = if (measureT0 == 0L) 0.0 else (System.nanoTime() - measureT0) / 1e9
    var p = 0
    while (p < wl.maxPasses && elapsedS < capS &&
           (p < minPasses || measuredS < seconds)) {
      if (p == 1) measureT0 = System.nanoTime()
      val traced = trace && p % 2 == 1
      rec.sampling = p > 0 && !traced
      if (traced) tracer.start()
      val gc0 = Counters.gcMs
      val failed0 = rec.failed
      val (_, ms) = Workload.timed(wl.pass(p, tracer))
      if (traced) {
        tracer.stop()
        rec.endTracedPass((Counters.gcMs - gc0).toDouble)
      }
      passes += Map("pass" -> p, "traced" -> traced, "ms" -> ms, "failed" -> (rec.failed - failed0))
      if (p == 0) {
        val (cg, cgMs) = Counters.codegen
        rec.gauges("exec.codegen_compiles") = cg.toDouble
        rec.gauges("exec.codegen_ms") = cgMs
        rec.gauges("exec.jit_ms") = Counters.jitMs.toDouble
      }
      p += 1
    }
    val measureS = measuredS

    val out = s"$scratch/out"
    val (checks, checkMs) = Workload.timed {
      try wl.check(out, trace) catch { case e: Throwable =>
        e.printStackTrace()
        Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    val layers: Map[String, Any] =
      rec.perCall.map { case (k, v) => k -> median(v.toSeq) }.toMap ++
      rec.perPass.map { case (k, v) => k -> median(v.toSeq) }.toMap ++
      rec.gauges.toMap
    val result = Map(
      "workload" -> workload, "setup" -> setup, "passes" -> passes, "measure_s" -> measureS,
      "check_s" -> checkMs / 1000, "jvm_s" -> elapsedS,
      "query_ms" -> rec.queryMs, "write_ms" -> rec.writeMs,
      "attempted" -> rec.attempted, "failed" -> rec.failed, "errors" -> rec.errors.take(20),
      "layers" -> layers, "ops" -> rec.opRows, "checks" -> checks,
      "peak_rss_mb" -> Counters.peakRssMb,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "confs" -> Map("cores" -> cores,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
          .asScala.filter(a => a.startsWith("-Xm") || a.startsWith("-XX:")).mkString(" "),
        "ui" -> spark.conf.get("spark.ui.enabled"),
        "time_zone" -> spark.conf.get("spark.sql.session.timeZone"),
        "local_dir" -> spark.sparkContext.getConf.get("spark.local.dir")))
    if (trace) Json.save(s"$scratch/spans.json", tracer.spansJson)
    Json.save(s"$scratch/result.json", result)
    spark.stop()
  }
}

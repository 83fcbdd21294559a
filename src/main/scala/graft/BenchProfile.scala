package graft

import org.apache.spark.sql.SparkSession

/** Per-phase breakdown of a query's bench cost (the round-14 "session
  * floor" investigation — VERDICT r13 #1: ~1.3 s/query × 313 queries is
  * the bench's dominant cost, so the floor's composition must be measured,
  * not guessed).
  *
  * For each named query, times separately:
  *   - build:    SparkEntry.queries(name)(spark, dir) — plan CONSTRUCTION
  *               (includes Tables memo hits, any operator-internal driver
  *               work such as probes or bounded collects);
  *   - analyze:  queryExecution.analyzed (Catalyst analysis);
  *   - optimize: queryExecution.optimizedPlan (optimizer rules);
  *   - plan:     queryExecution.executedPlan (physical strategies);
  *   - exec:     the noop write, EXACTLY as Bench times it (re-plans the
  *               write command's own QueryExecution, runs codegen + jobs).
  *
  * Because exec's write command re-runs analysis/optimization on a plan
  * that wraps the same tree, build+analyze+optimize+plan is roughly the
  * "second copy" of planning the noop write also pays — exec minus a warm
  * re-exec approximates one-time codegen/JIT.
  *
  * Usage:   graft.BenchProfile <sfDir> <q1,q2,...|cheapest:N> [reps] [k=v,...]
  * Output:  one line per (query, rep): all phases in milliseconds.
  * The optional 4th arg sets runtime SQL confs (e.g.
  * `spark.sql.adaptive.enabled=false`) before any query runs, for
  * A/B-ing session knobs against the same query set.
  *
  * `order=pass` in the 4th arg runs the reps rep-major: each rep is one
  * whole pass over the selected names, and a summary line per pass gives
  * its generated-class compile count. The default (`order=query`) runs a
  * query's reps back to back, so one query's handful of classes always
  * stays in the JVM-wide codegen cache between its reps; the pass order
  * re-runs a query only after every other selected query has compiled its
  * classes, which is how a mixed workload meets the cache, and the warm
  * passes' compile counts show whether the working set fits it.
  */
object BenchProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val sel = args.lift(1).getOrElse("cheapest:10")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.tune(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-profile"),
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var warmDir: Option[String] = None
    var passOrder = false
    args.lift(3).foreach(_.split(",").filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      if (k == "warmDir") warmDir = Some(v)
      else if (k == "order") passOrder = v == "pass"
      else spark.conf.set(k, v)
    })

    val names: Seq[String] =
      if (sel.startsWith("cheapest:")) {
        // by r13 committed history when present, else lexicographic head
        val n = sel.stripPrefix("cheapest:").toInt
        val hist = try {
          val txt = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get("BENCH_HISTORY.json")))
          val re = """"sf0\.1\|([^"]+)"\s*:\s*([0-9.]+)""".r
          re.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
        } catch { case _: Throwable => Map.empty[String, Double] }
        SparkEntry.queries.keys.toSeq
          .sortBy(k => hist.getOrElse(k, Double.MaxValue)).take(n)
      } else sel.split(",").map(_.trim).toSeq

    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    // Janino whole-stage-codegen compile tracking (count + approx total ms
    // from the codahale histogram) and HotSpot JIT time — the candidate
    // components of the first-execution penalty this tool exists to split.
    val cgm = org.apache.spark.metrics.source.CodegenMetrics
    def janino: (Long, Double) = {
      val h = cgm.METRIC_COMPILATION_TIME
      (h.getCount, h.getCount * h.getSnapshot.getMean)
    }
    def jitMs: Long =
      java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

    // absorb session cold start once (untimed), as Bench does
    try SparkEntry.queries(names.head)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"warm-up failed: $e") }

    println(f"${"query"}%-28s rep ${"build"}%8s ${"analyze"}%8s ${"optim"}%8s ${"plan"}%8s ${"exec"}%8s ${"total"}%8s ${"jan#"}%5s ${"janMs"}%7s ${"jitMs"}%7s")
    def runOne(name: String, rep: Int): Unit = {
      val fn = SparkEntry.queries(name)
      // cross-sf codegen warm probe: execute the same query once at
      // warmDir (untimed here — its cost prints as wrm) just before the
      // timed rep, to see whether plan shapes coincide across sf and the
      // codegen/JIT cache absorbs the first-execution penalty.
      if (rep == 1) warmDir.foreach { wd =>
        val tw = System.nanoTime()
        try fn(spark, wd).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"warm $name: $e") }
        spark.catalog.clearCache()
        println(f"$name%-28s wrm ${ms(tw)}%8.1f")
      }
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tBuild = ms(t0)
      val t1 = System.nanoTime(); df.queryExecution.analyzed; val tAna = ms(t1)
      val t2 = System.nanoTime(); df.queryExecution.optimizedPlan; val tOpt = ms(t2)
      val t3 = System.nanoTime(); df.queryExecution.executedPlan; val tPlan = ms(t3)
      val (jan0, janMs0) = janino; val jit0 = jitMs
      val t4 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val tExec = ms(t4)
      val (jan1, janMs1) = janino; val jit1 = jitMs
      spark.catalog.clearCache()
      println(f"$name%-28s $rep%3d $tBuild%8.1f $tAna%8.1f $tOpt%8.1f $tPlan%8.1f $tExec%8.1f ${tBuild + tAna + tOpt + tPlan + tExec}%8.1f ${jan1 - jan0}%5d ${janMs1 - janMs0}%7.0f ${jit1 - jit0}%7d")
    }
    if (passOrder) for (rep <- 1 to reps) {
      val (jan0, janMs0) = janino; val jit0 = jitMs
      val t0 = System.nanoTime()
      names.foreach(runOne(_, rep))
      val (jan1, janMs1) = janino
      println(f"pass $rep%3d: ${names.size} queries ${ms(t0)}%8.1f ms, compiled ${jan1 - jan0} classes (${janMs1 - janMs0}%.0f ms), jit ${jitMs - jit0} ms")
    }
    else for (name <- names; rep <- 1 to reps) runOne(name, rep)
    spark.stop()
  }
}

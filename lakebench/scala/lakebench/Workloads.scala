package lakebench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.core.Tables
import graft.etl.{BronzeToSilver, GoldCatalog, Pipeline, SilverToGold, TxLog}

/** Op counts, latency samples and per-layer values of one run. */
final class Recorder(cores: Int) {
  var attempted, failed = 0L
  /** Latency samples are kept only while this is set (warm, untraced passes). */
  var sampling = false
  val errors = ArrayBuffer.empty[String]
  /** Read-op latencies by op name (a query, or one kind of read). */
  val queryMs = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val writeMs = ArrayBuffer.empty[Double]
  val perCall = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val perPass = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val gauges = mutable.LinkedHashMap.empty[String, Double]
  val opRows = ArrayBuffer.empty[Map[String, Any]]
  private val cur = mutable.LinkedHashMap.empty[String, Double]
  private var busyRun, busyWall = 0.0

  /** One user operation: counted, and on failure recorded, never thrown. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      failed += 1
      errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      None
    }
  }

  def query(name: String, ms: Double): Unit = if (sampling) queryMs.getOrElseUpdate(name, ArrayBuffer.empty) += ms
  def call(name: String, v: Double): Unit = perCall.getOrElseUpdate(name, ArrayBuffer.empty) += v
  def add(name: String, v: Double): Unit = cur(name) = cur.getOrElse(name, 0.0) + v

  // values that read job totals, which are complete only at pass end
  private val later = ArrayBuffer.empty[() => Unit]
  private val aggs = ArrayBuffer.empty[ExecAgg]
  def atPassEnd(f: => Unit): Unit = later += (() => f)
  /** Count one traced call's Spark jobs in the pass's exec totals. */
  def exec(as: ExecAgg*): Unit = aggs ++= as

  private def fold(a: ExecAgg): Unit = {
    add("exec.jobs", a.jobs.toDouble)
    add("exec.stages", a.stages.toDouble)
    add("exec.tasks", a.tasks.toDouble)
    add("exec.ms", a.jobWallMs.toDouble)
    add("exec.task_run_ms", a.taskRunMs.toDouble)
    add("exec.task_cpu_ms", a.taskCpuNs / 1e6)
    add("exec.input_mb", a.inputBytes / 1048576.0)
    add("exec.shuffle_read_mb", a.shuffleReadBytes / 1048576.0)
    add("exec.shuffle_write_mb", a.shuffleWriteBytes / 1048576.0)
    add("exec.spill_mb", a.spillBytes / 1048576.0)
    busyRun += a.taskRunMs
    busyWall += a.jobWallMs.toDouble * cores
  }

  def endTracedPass(gcMs: Double): Unit = {
    later.foreach(_()); later.clear()
    aggs.foreach(fold); aggs.clear()
    add("exec.gc_ms", gcMs)
    if (busyWall > 0) add("exec.busy_ratio", busyRun / busyWall)
    cur.foreach { case (k, v) => perPass.getOrElseUpdate(k, ArrayBuffer.empty) += v }
    cur.clear(); busyRun = 0; busyWall = 0
  }
}

object Frames {
  /** Count plus an order-insensitive content hash of a frame. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect().head
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  /** Write collected rows as one parquet file for the oracle check. */
  def saveRows(spark: SparkSession, schema: StructType, rows: Array[Row], path: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L) else f.length()
}

trait Workload {
  /** Register tables and warm up; returns (tables_ms, warm_ms). */
  def setup(spark: SparkSession, input: String, round: Int): (Double, Double)
  /** Number of passes the op list allows. */
  def maxPasses: Int
  def pass(p: Int, t: Tracer): Unit
  /** Untimed output checks; returns what run.py compares. */
  def check(out: String, trace: Boolean): Map[String, Any]
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime(); val v = body; (v, (System.nanoTime() - t) / 1e6)
  }
  def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
}
import Workload._

/** floor_mix / heavy_mix: declared queries built fresh through
  * `SparkEntry.queries`, executed by collect, cache cleared after each. */
final class QueryMix(plan: JsonNode, rec: Recorder) extends Workload {
  private val orders = plan.get("orders").elements().asScala.map(strs).toSeq
  private var spark: SparkSession = _
  private var dir: String = _
  private val firstRows = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  def maxPasses: Int = orders.size

  /** No warm-up query here: the cold pass executes every query once. */
  def setup(s: SparkSession, input: String, round: Int): (Double, Double) = {
    spark = s; dir = input
    val (_, tablesMs) = timed(Tables.registerAll(spark, dir))
    (tablesMs, 0.0)
  }

  def pass(p: Int, t: Tracer): Unit = orders(p).foreach { q =>
    val fn = SparkEntry.queries(q)
    rec.op(q) {
      val (res, ms) = if (!t.on) timed {
        val df = fn(spark, dir)
        (df.schema, df.collect())
      } else t.span("op", Map("query" -> q, "pass" -> p)) {
        val (df, bMs, b) = t.jobs("operators.build")(fn(spark, dir))
        // DataFrame construction analyzes eagerly, so the analyzer's time
        // is read from the plan's own tracker (it sits inside build_ms)
        val aMs = df.queryExecution.tracker.phases.get("analysis")
          .map(_.durationMs.toDouble).getOrElse(0.0)
        val (_, oMs) = t.span("plans.optimize")(df.queryExecution.optimizedPlan)
        val (_, pMs) = t.span("plans.physical")(df.queryExecution.executedPlan)
        val (rows, xMs, x) = t.jobs("exec")(df.collect())
        rec.add("operators.build_ms", bMs)
        rec.add("plans.analyze_ms", aMs); rec.add("plans.optimize_ms", oMs)
        rec.add("plans.physical_ms", pMs)
        rec.exec(b, x)
        rec.atPassEnd {
          rec.add("operators.build_jobs", b.jobs.toDouble)
          rec.opRows += Map("op" -> q, "pass" -> p, "build_ms" -> bMs, "build_jobs" -> b.jobs,
            "analyze_ms" -> aMs, "optimize_ms" -> oMs, "physical_ms" -> pMs,
            "exec_ms" -> xMs, "exec_jobs" -> x.jobs, "exec_stages" -> x.stages,
            "exec_tasks" -> x.tasks)
        }
        (df.schema, rows)
      }
      rec.query(q, ms)
      if (!firstRows.contains(q)) firstRows(q) = res
    }
    spark.catalog.clearCache()
  }

  def check(out: String, trace: Boolean): Map[String, Any] = {
    firstRows.foreach { case (q, (schema, rows)) =>
      Frames.saveRows(spark, schema, rows, s"$out/results/$q")
    }
    val oracles = SparkEntry.oracleSql
    Map("results" -> firstRows.keys.toSeq,
      "oracle_sql" -> firstRows.keys.flatMap(q => oracles.get(q).map(q -> _)).toMap)
  }
}

/** txlog_dml: seeded rounds of append / updateWhere / deleteWhere / merge
  * (plus checkpoint and optimize) on one TxLog table keyed by row_id, each
  * op followed by a range read and a full-table aggregate. */
final class TxlogDml(plan: JsonNode, rec: Recorder, scratch: String) extends Workload {
  private val rounds = plan.get("rounds_ops").elements().asScala.toSeq
  private var spark: SparkSession = _
  private var table: String = _
  private var input: String = _
  private var schema: StructType = _
  // every committed op in order, with the version it produced
  private val committed = ArrayBuffer.empty[(JsonNode, Long)]

  def maxPasses: Int = rounds.size

  private def range(lo: Long, hi: Long): Column = col("row_id") >= lo && col("row_id") < hi
  private def rng(op: JsonNode): Column = range(op.get("lo").asLong, op.get("hi").asLong)

  /** Deterministic rows for the given ids: every value is a hash of
    * (row_id, seed), cast to the table's column types. */
  private def rowsFor(ids: DataFrame, seed: Long): DataFrame = {
    def h(k: Int, m: Long): Column = pmod(xxhash64(col("id"), lit(seed), lit(k)), lit(m))
    val df = ids.select(
      col("id").as("row_id"),
      h(1, 15000), h(2, 2000), h(3, 100),
      (h(4, 7) + 1).as("l_linenumber"),
      (h(5, 50) + 1).cast("double").as("l_quantity"),
      (lit(900.0) + h(6, 10410000) / 100.0).as("l_extendedprice"),
      (h(7, 11) / 100.0).as("l_discount"),
      (h(8, 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (h(9, 3) + 1).cast("int")),
      element_at(array(lit("F"), lit("O")), (h(10, 2) + 1).cast("int")),
      timestamp_seconds(lit(788832000L) + h(11, 2498) * 86400L))
      .toDF(Seq("row_id", "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate"): _*)
    df.select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  private def appendRows(op: JsonNode): DataFrame = {
    val from = op.get("from_id").asLong
    rowsFor(spark.range(from, from + op.get("n").asLong).toDF(), op.get("seed").asLong)
  }

  private def mergeSource(op: JsonNode): DataFrame = {
    val from = op.get("from_id").asLong
    val ids = spark.range(op.get("lo").asLong, op.get("hi").asLong)
      .union(spark.range(from, from + op.get("n").asLong))
    rowsFor(ids.toDF(), op.get("seed").asLong)
  }

  private def updates(op: JsonNode): Map[String, Column] = Map(
    "l_quantity" -> (col("l_quantity") + 1.0),
    "l_discount" -> lit((op.get("seed").asLong % 11) / 100.0))

  private def fullAgg(): Array[Row] =
    TxLog.read(spark, table).agg(count(lit(1)), sum("l_quantity"),
      sum("l_extendedprice"), max("row_id")).collect()

  def setup(s: SparkSession, in: String, round: Int): (Double, Double) = {
    spark = s; input = in
    table = s"$scratch/txlog/table_$round"
    val (_, tablesMs) = timed {
      val df = spark.read.parquet(s"$input/lineitem.parquet")
      schema = df.schema
      TxLog.create(table, df.schema)
      TxLog.append(spark, table, df)
    }
    val (_, warmMs) = timed {
      TxLog.readWhere(spark, table, range(0, 3000)).collect()
      fullAgg()
    }
    (tablesMs, warmMs)
  }

  private def snapshotBytes(): Map[String, Long] =
    TxLog.snapshotAdds(table).map(a => a.path -> new File(table, a.path).length()).toMap

  def pass(p: Int, t: Tracer): Unit = {
    val r = rounds(p)
    val ops = r.get("ops").elements().asScala.toSeq
    val reads = r.get("reads").elements().asScala.toSeq
    ops.zip(reads).foreach { case (op, rd) =>
      val kind = op.get("op").asText
      val before = if (t.on) snapshotBytes() else Map.empty[String, Long]
      rec.op(s"txlog.$kind") {
        val (v, ms, a) = t.jobs(s"txlog.$kind", Map("pass" -> p)) {
          kind match {
            case "append" => Some(TxLog.append(spark, table, appendRows(op)))
            case "update" => TxLog.updateWhere(spark, table, rng(op), updates(op))
            case "delete" => TxLog.deleteWhere(spark, table, rng(op))
            case "merge" => Some(TxLog.merge(spark, table, mergeSource(op), Seq("row_id")))
            case "optimize" => TxLog.optimize(spark, table, targetFiles = 4, sortBy = Seq("row_id"))
            case "checkpoint" => TxLog.checkpoint(table); None
          }
        }
        if (kind != "checkpoint" && kind != "optimize") {
          if (rec.sampling) rec.writeMs += ms
          v.foreach(ver => committed += ((op, ver)))
        }
        if (t.on) {
          rec.call(s"txlog.${kind}_ms", ms)
          rec.exec(a)
          val after = snapshotBytes()
          val added = after.keySet -- before.keySet
          rec.add("txlog.files_added", added.size.toDouble)
          rec.add("txlog.files_removed", (before.keySet -- after.keySet).size.toDouble)
          rec.add("txlog.bytes_written_mb", added.toSeq.map(after).sum / 1048576.0)
          rec.atPassEnd {
            rec.call(s"txlog.${kind}_jobs", a.jobs.toDouble)
            rec.opRows += Map("op" -> kind, "pass" -> p, "ms" -> ms, "jobs" -> a.jobs,
              "stages" -> a.stages, "files_added" -> added.size)
          }
        }
      }
      val cond = range(rd.get("lo").asLong, rd.get("hi").asLong)
      rec.op("txlog.readWhere") {
        if (t.on) {
          val (pr, pMs) = t.span("txlog.prune")(TxLog.prune(spark, table, cond))
          rec.call("txlog.prune_ms", pMs)
          rec.add("txlog.prune_kept", pr.kept.size.toDouble)
          rec.add("txlog.prune_total", (pr.kept.size + pr.skipped.size).toDouble)
        }
        val (_, ms, a) = t.jobs("txlog.readWhere")(TxLog.readWhere(spark, table, cond).collect())
        if (t.on) rec.exec(a) else rec.query("readWhere", ms)
      }
      rec.op("txlog.fullAgg") {
        val (_, ms, a) = t.jobs("txlog.fullAgg")(fullAgg())
        if (t.on) rec.exec(a) else rec.query("fullAgg", ms)
      }
    }
  }

  /** The same ops applied with plain DataFrame transforms. */
  private def twin(upTo: Int): DataFrame = {
    var df = spark.read.parquet(s"$input/lineitem.parquet")
    committed.take(upTo).zipWithIndex.foreach { case ((op, _), i) =>
      df = op.get("op").asText match {
        case "append" => df.unionByName(appendRows(op))
        case "update" =>
          val u = updates(op)
          df.select(df.columns.toSeq.map(c =>
            u.get(c).map(e => when(coalesce(rng(op), lit(false)), e).otherwise(col(c)).as(c))
              .getOrElse(col(c))): _*)
        case "delete" => df.filter(!coalesce(rng(op), lit(false)))
        case "merge" =>
          val src = mergeSource(op)
          df.join(src.select("row_id"), Seq("row_id"), "left_anti").unionByName(src)
      }
      if (i % 8 == 7) df = df.localCheckpoint()
    }
    df
  }

  def check(out: String, trace: Boolean): Map[String, Any] = {
    val n = committed.size
    val mid = math.max(1, (plan.get("tt_frac").asDouble * n).toInt).min(n)
    val midVersion = committed(mid - 1)._2
    val tableFinal = Frames.fingerprint(TxLog.read(spark, table))
    val twinFinal = Frames.fingerprint(twin(n))
    val tableMid = Frames.fingerprint(TxLog.read(spark, table, Some(midVersion)))
    val twinMid = Frames.fingerprint(twin(mid))
    val live = s"$scratch/live"
    TxLog.read(spark, table).write.mode("overwrite").parquet(live)
    rec.gauges("txlog.log_versions") = TxLog.versions(table).size.toDouble
    rec.gauges("txlog.snapshot_files") = TxLog.snapshotAdds(table).size.toDouble
    Map("commits" -> n, "mid_version" -> midVersion,
      "table_final" -> Seq(tableFinal._1, tableFinal._2), "twin_final" -> Seq(twinFinal._1, twinFinal._2),
      "table_mid" -> Seq(tableMid._1, tableMid._2), "twin_mid" -> Seq(twinMid._1, twinMid._2),
      "storage_bytes" -> Frames.du(new File(table)), "live_bytes" -> Frames.du(new File(live)))
  }
}

/** medallion_backfill: one `Pipeline.runFromBronze` per landed feed-day
  * (the DAG's backfill), then a fixed set of gold queries through
  * `GoldCatalog`. The traced path calls the same public steps one by one. */
final class Medallion(plan: JsonNode, rec: Recorder, scratch: String) extends Workload {
  private val days = plan.get("days").elements().asScala.toSeq
  private val warmDay = plan.get("warm_day")
  private val goldSql = plan.get("gold_sql").fields().asScala.map(e => e.getKey -> e.getValue.asText).toSeq
  private var spark: SparkSession = _
  private var input: String = _
  private val layout = Pipeline.Layout(s"$scratch/warehouse")
  private var done = 0

  def maxPasses: Int = days.size

  private def feed(d: JsonNode) = s"$input/bronze/${new File(d.get("path").asText).getName}"

  private def goldQueries(t: Tracer): Unit = {
    def q(name: String)(body: => Any): Unit = rec.op(name) {
      val (_, ms, a) = t.jobs(s"gold.$name")(body)
      if (t.on) rec.exec(a) else rec.query(name, ms)
    }
    q("show_tables")(GoldCatalog.showTables(spark).collect())
    q("describe")(GoldCatalog.describe(spark, "fact_asteroid_approach").collect())
    goldSql.foreach { case (n, sql) => q(n)(GoldCatalog.sql(spark, sql).collect()) }
  }

  def setup(s: SparkSession, in: String, round: Int): (Double, Double) = {
    spark = s; input = in
    // registering the landed bronze zone is this workload's table setup
    val (_, tablesMs) = timed {
      BronzeToSilver.readBronze(spark, s"$input/bronze").createOrReplaceTempView("bronze_landing")
    }
    // warm-up: parse and flatten one extra feed-day, writing nothing
    val (_, warmMs) = timed {
      BronzeToSilver.transform(BronzeToSilver.readBronze(spark, feed(warmDay)),
        warmDay.get("batch_id").asLong).collect()
    }
    (tablesMs, warmMs)
  }

  private def silverBytes(date: String): Long =
    Frames.du(new File(s"${layout.silver}/_processing_date=$date"))

  def pass(p: Int, t: Tracer): Unit = {
    val d = days(p)
    val date = d.get("date").asText
    val batch = d.get("batch_id").asLong
    rec.op(s"day $date") {
      if (!t.on) {
        val (_, ms) = timed(Pipeline.runFromBronze(spark, feed(d), layout, date, batch))
        if (rec.sampling) rec.writeMs += ms
      } else t.span("etl.day", Map("date" -> date)) {
        val inst = java.time.LocalDate.parse(date).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
        val (silverDf, bMs, b) = t.jobs("etl.bronze") {
          BronzeToSilver.transform(BronzeToSilver.readBronze(spark, feed(d)), batch, Some(inst))
        }
        val (_, wMs, w) = t.jobs("etl.silver_write")(BronzeToSilver.write(silverDf, layout.silver))
        val (_, gMs, g) = t.jobs("etl.gold")(SilverToGold.run(spark, layout.silver, layout.gold, date))
        val (_, cMs, c) = t.jobs("etl.catalog") {
          GoldCatalog.register(spark, layout.gold)
          spark.read.parquet(layout.silver)
        }
        rec.exec(b, w, g, c)
        rec.call("etl.bronze_ms", bMs); rec.call("etl.silver_write_ms", wMs)
        rec.call("etl.gold_ms", gMs); rec.call("etl.catalog_ms", cMs)
        val sb = silverBytes(date)
        rec.atPassEnd {
          val jobs = b.jobs + w.jobs + g.jobs + c.jobs
          rec.call("etl.day_jobs", jobs.toDouble)
          if (sb > 0) rec.call("etl.silver_read_ratio", g.inputBytes.toDouble / sb)
          rec.call("etl.bytes_written_mb", (b.outputBytes + w.outputBytes + g.outputBytes) / 1048576.0)
          rec.opRows += Map("op" -> "day", "date" -> date, "bronze_ms" -> bMs,
            "silver_write_ms" -> wMs, "gold_ms" -> gMs, "catalog_ms" -> cMs, "jobs" -> jobs)
        }
      }
    }
    done = p + 1
    goldQueries(t)
  }

  private val GoldTables =
    Seq("dim_asteroid", "dim_celestial_body", "dim_date", "fact_asteroid_approach")

  private def goldPrints(goldDir: String): Map[String, Seq[Any]] =
    GoldTables.map { tb =>
      val (n, h) = Frames.fingerprint(spark.read.parquet(s"$goldDir/$tb"))
      tb -> Seq(n, h)
    }.toMap

  def check(out: String, trace: Boolean): Map[String, Any] = {
    goldSql.foreach { case (n, sql) =>
      val df = GoldCatalog.sql(spark, sql)
      Frames.saveRows(spark, df.schema, df.collect(), s"$out/gold/$n")
    }
    val shown = GoldCatalog.showTables(spark).collect().map(_.getAs[String]("tableName")).toSeq
    val described = GoldCatalog.describe(spark, "fact_asteroid_approach").collect()
      .map(_.getString(0)).toSeq
    // both paths must land the same gold: replay the executed days
    // through runFromBronze alone into a twin warehouse
    val twinCheck: Map[String, Any] = if (!trace) Map.empty else {
      val tw = Pipeline.Layout(s"$scratch/twin_warehouse")
      days.take(done).foreach { d =>
        Pipeline.runFromBronze(spark, feed(d), tw, d.get("date").asText, d.get("batch_id").asLong)
      }
      Map("gold" -> goldPrints(layout.gold), "twin_gold" -> goldPrints(tw.gold))
    }
    val live = s"$scratch/live"
    spark.read.parquet(layout.silver).write.mode("overwrite").parquet(s"$live/silver")
    GoldTables.foreach { tb =>
      spark.read.parquet(s"${layout.gold}/$tb").write.mode("overwrite").parquet(s"$live/$tb")
    }
    rec.gauges("etl.gold_files") = GoldTables.map { tb =>
      Option(new File(s"${layout.gold}/$tb").listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
    }.sum.toDouble
    Map("days" -> done, "warehouse" -> layout.warehouse, "show_tables" -> shown,
      "describe" -> described,
      "storage_bytes" -> (Frames.du(new File(layout.silver)) + Frames.du(new File(layout.gold))),
      "live_bytes" -> Frames.du(new File(live))) ++ twinCheck
  }
}

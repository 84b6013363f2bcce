package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.BenchReport
import graft.flight.Flight
import graft.sim.{IndexParams, Similarity}
import graft.streaming.Streaming

/** The benchmark's driver process: one Spark session, one workload, calls
  * into the library's public layer functions exactly as a deployment would,
  * and writes what it observed (set-up times, per-operation timings, the
  * outputs the correctness gate checks, spans) to `<work>/result.json`.
  * Inputs come from the seeded generators in `gen.py`; `run.py` launches
  * this process, checks the outputs and turns the timings into metrics.
  *
  * Arguments are `key=value` pairs; see `run.py` for the set it passes. */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val work = conf("work")
    val cores = conf("cores")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, conf, new Tracer(spark))
    run.out("session_s") = secondsSince(t0)
    // inputs are generated while the session starts; run.py marks them done
    val ready = Paths.get(s"$work/in/READY")
    while (!Files.exists(ready)) Thread.sleep(20)
    conf("workload") match {
      case "ingest" => run.ingest()
      case "gate" => run.gate()
      case "analytics" => run.queries()
      case w => sys.error(s"unknown workload $w")
    }
    run.out("spans") = Json.Raw(run.tracer.spansJson().mkString("[", ",", "]"))
    run.out("peak_rss_kb") = peakRssKb()
    spark.stop()
    Files.writeString(Paths.get(s"$work/result.json"), Json.render(run.out))
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
}

/** One benchmark run's state: the workload bodies and what they record. */
final class Run(spark: SparkSession, conf: Map[String, String], val tracer: Tracer) {
  import Main.secondsSince

  val out = mutable.LinkedHashMap.empty[String, Any]
  private val ops = mutable.ArrayBuffer.empty[String]
  private val work = conf("work")
  private val seconds = conf("seconds").toDouble
  private val traced = conf("trace") == "1"
  private val setupReps = conf("setup_reps").toInt

  private def nowMs = System.currentTimeMillis()

  private def op(kind: String, name: String, phase: String, startMs: Long, endMs: Long,
                 extra: (String, Any)*): Unit =
    ops += Json.obj(Seq("kind" -> kind, "name" -> name, "phase" -> phase,
      "start_ms" -> startMs, "end_ms" -> endMs) ++ extra: _*)

  /** The measured phase, then in a traced run the same measurement again
    * with the tracer attached (end-to-end figures come from the first). */
  private def measure(body: String => Unit): Unit = {
    body("untraced")
    if (traced) { tracer.attach(); body("traced") }
    out("ops") = Json.Raw(ops.mkString("[", ",", "]"))
  }

  private def timedReps(body: Int => Unit): Unit =
    out("setup_reps_s") = (0 until setupReps).map { r =>
      val t = System.nanoTime(); body(r); secondsSince(t)
    }

  // ---------------------------------------------------------------- ingest

  /** Open loop: snapshot k is due at start + k·interval; one consumer lands
    * snapshots in order (DLQ side channel, then the enriched partitioned
    * sink). Latency runs from the due time to the commit, so a slow
    * snapshot delays the ones queued behind it. */
  def ingest(): Unit = {
    val snaps = Files.list(Paths.get(conf("snapshots"))).toArray.map(_.toString).sorted
    val intervalMs = (conf("interval_s").toDouble * 1000).toLong
    val sink = s"$work/out/flights"; val dlq = s"$work/out/dlq"
    var next = 0
    val processed = mutable.ArrayBuffer.empty[Int]
    def land(opId: Int): Unit = {
      val dir = snaps(next)
      tracer.span("flight.errors", opId) {
        val (_, bad) = Flight.readRawWithErrors(spark, dir)
        Flight.enqueueDlq(bad, nowMs / 1000).write.mode("append").parquet(dlq)
      }
      tracer.span("flight.ingest_write", opId) {
        Flight.writePartitioned(Flight.ingest(spark, dir), sink)
      }
      processed += next
      next += 1
    }
    timedReps(_ => land(-1))
    measure { phase =>
      val start = nowMs
      var k = 0
      while (k * intervalMs < seconds * 1000 && next < snaps.length) {
        val due = start + k * intervalMs
        while (nowMs < due) Thread.sleep(math.max(1L, due - nowMs))
        val begin = nowMs
        val id = ops.size
        tracer.span("ingest.snapshot", id)(land(id))
        op("write", snaps(next - 1), phase, begin, nowMs, "due_ms" -> due,
          "snapshot" -> (next - 1))
        k += 1
      }
    }
    out("processed") = processed.toSeq
  }

  // ------------------------------------------------------------------ gate

  /** Closed loop, one client: each step gates a vector batch against the
    * live index (accepted vectors are appended to it), every `fold_every`
    * steps folds the live batches into leveled generations, and serves a
    * probe batch from the index. */
  def gate(): Unit = {
    val gateDir = conf("gate")
    val base = graft.Tables.embeddings(spark, conf("tables")).select("vec_id", "embedding")
    val n = base.count()
    val planes = IndexParams.lshPlanes(n)
    val tables = 4
    val foldEvery = conf("fold_every").toInt
    val decisions = s"$work/out/decisions"
    val probeRows = mutable.ArrayBuffer.empty[Seq[Long]]
    var table = ""
    var step = 0
    def batch(k: Int): DataFrame = spark.read.parquet(f"$gateDir/batch_$k%04d.parquet")
    def probe(k: Int): DataFrame = spark.read.parquet(f"$gateDir/probe_$k%04d.parquet")
    def gateStep(opId: Int): (Long, Long, Long, Boolean) = {
      val k = step
      val t0 = nowMs
      tracer.span("streaming.gate_batch", opId) {
        Streaming.gateBatch(batch(k), k + 1L, table, planes, tables, decisions)
      }
      val t1 = nowMs
      val folds = (k + 1) % foldEvery == 0
      if (folds) tracer.span("streaming.fold", opId) {
        Streaming.foldIndexLeveled(spark, table, k + 1L)
      }
      val t2 = nowMs
      tracer.span("sim.probe", opId) {
        Similarity.probeIndexLive(spark, table, probe(k), planes, tables).collect()
      }.foreach(r => probeRows += Seq(r.getLong(0), r.getLong(1)))
      step += 1
      (t1 - t0, t2 - t1, nowMs - t2, folds)
    }
    // set-up rep: a fresh index seeded with the base vectors; the last
    // rep's index serves one untimed warm-up step, then the measurement
    timedReps { r =>
      table = s"pb_index_$r"
      Streaming.createAppendableIndex(spark, table, s"$work/out/index_$r")
      Streaming.appendIndexBatch(base, 0L, table, planes, tables)
    }
    gateStep(-1)
    measure { phase =>
      val start = nowMs
      while (nowMs - start < seconds * 1000) {
        val id = ops.size
        val begin = nowMs
        val (gateMs, foldMs, probeMs, folds) = tracer.span("gate.step", id)(gateStep(id))
        op("step", "gate", phase, begin, begin + gateMs + foldMs + probeMs, "gate_ms" -> gateMs,
          "fold_ms" -> foldMs, "probe_ms" -> probeMs, "folds" -> folds)
      }
    }
    out("steps") = step
    out("probe_rows") = probeRows.toSeq
  }

  // ------------------------------------------------------------- analytics

  /** Closed loop, one client: passes over a fixed query mix, each pass in
    * an order drawn from the seed. The untimed set-up pass writes each
    * query's result for the DuckDB oracle compare; measured passes force
    * the same plans through the checksum action the repository's Bench
    * uses, and must reproduce the checksum of the written result. */
  def queries(): Unit = {
    val dir = conf("tables")
    val mix = conf("queries").split(",").toSeq.map { q => val Array(layer, name) = q.split(":"); (layer, name) }
    val rng = new scala.util.Random(conf("seed").toLong)
    val sums = mutable.LinkedHashMap.empty[String, mutable.Set[Long]]
    val results = s"$work/out/results"
    // the set-up pass lands each result for the oracle compare; measured
    // passes force the same plans through Bench's checksum action
    def runQuery(layer: String, name: String, opId: Int, setup: Boolean): Unit =
      tracer.span(s"$layer.$name", opId) {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        if (setup) df.coalesce(1).write.mode("overwrite").parquet(s"$results/$name")
        else sums.getOrElseUpdate(name, mutable.Set.empty) +=
          BenchReport.checksummed(df).collect()(0).getLong(0)
      }
    /** One pass in a seeded order; returns false if it stopped at `deadline`. */
    def pass(phase: String, deadline: Long): Boolean = {
      val begin = nowMs
      val order = rng.shuffle(mix)
      var i = 0
      while (i < order.size && (i == 0 || nowMs < deadline)) {
        val (layer, name) = order(i)
        val id = ops.size
        val t = nowMs
        runQuery(layer, name, id, phase == "setup")
        op("query", name, phase, t, nowMs, "layer" -> layer)
        i += 1
      }
      val complete = i == order.size
      if (complete) op("pass", "pass", phase, begin, nowMs)
      complete
    }
    timedReps(_ => pass("setup", Long.MaxValue))
    // whole passes until the window closes, then stop after the running
    // query; at least one pass always completes
    measure { phase =>
      val deadline = nowMs + (seconds * 1000).toLong
      var passes = 0
      while (nowMs < deadline || passes == 0)
        if (pass(phase, if (passes == 0) Long.MaxValue else deadline)) passes += 1
    }
    out("checksums") = Json.Raw(Json.obj(sums.toSeq.map { case (k, v) => k -> v.toSeq.sorted }: _*))
    out("verified_checksums") = Json.Raw(Json.obj(mix.map { case (_, name) =>
      name -> BenchReport.checksummed(spark.read.parquet(s"$results/$name")).collect()(0).getLong(0)
    }: _*))
    Files.writeString(Paths.get(s"$results/oracle_sql.json"), Json.obj(
      mix.flatMap { case (_, n) => graft.SparkEntry.oracleSql.get(n).map(n -> Json.str(_)) }: _*))
  }
}

/** Minimal JSON rendering for the result file. Values that are already
  * JSON text (built by [[obj]] or [[str]]) are passed as `Json.Raw`. */
object Json {
  final case class Raw(text: String)

  def str(s: String): Raw = Raw("\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\"")

  private def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s).text
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString).text
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k).text + ":" + value(v) }.mkString("{", ",", "}")

  def render(m: collection.Map[String, Any]): String = obj(m.toSeq: _*)
}

package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed export invocation: wall, executor CPU, rows and bytes written. */
final case class Op(cold: Boolean, traced: Boolean, wallS: Double, cpuS: Double,
    rows: Long, bytes: Long)

/** Benchmark JVM entry point. `run.py` generates the inputs, writes a JSON
  * config and starts this main with its path; the main runs one workload
  * and writes `result.json` next to the config.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val cfgPath = Paths.get(args(0))
    val cfg = new ObjectMapper().readTree(cfgPath.toFile)
    val t0 = System.nanoTime()
    val cpus = cfg.get("cpus").asInt()
    val work = cfg.get("work_dir").asText()
    val spark = graft.GraftSession.builder(cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cpu = new CpuListener
    spark.sparkContext.addSparkListener(cpu)
    val traced = cfg.get("trace").asInt() == 1
    val tracer = new Tracer(spark.sparkContext,
      s"${cfg.get("workload").asText()}-seed${cfg.get("seed").asLong()}")
    if (traced) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer.queryListener)
    }
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, cfg, cpu, tracer, traced, cpus, Paths.get(work))
    val out = cfg.get("workload").asText() match {
      case "export_incremental" => Exports.incremental(ctx)
      case "registry_session" => Registry.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    out.info("session_s") = sessionS
    if (traced) tracer.dump(Paths.get(cfg.get("trace_out").asText()))
    out.write(cfgPath.resolveSibling("result.json"))
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, cfg: JsonNode, cpu: CpuListener,
    tracer: Tracer, traced: Boolean, cpus: Int, work: Path) {
  def str(k: String): String = cfg.get(k).asText()
  def num(k: String): Double = cfg.get(k).asDouble()
  def sc: org.apache.spark.SparkContext = spark.sparkContext

  /** Runs `body` as one operation: drains the listener bus, switches span
    * recording on or off, times the body and reads executor CPU.
    */
  def op[A](name: String, traceIt: Boolean)(body: => A): (A, Double, Double) = {
    cpu.take(sc): Unit
    tracer.enabled = traceIt
    val s = tracer.open(name)
    val t0 = System.nanoTime()
    val a = try body finally tracer.close(s)
    val wall = (System.nanoTime() - t0) / 1e9
    val c = cpu.take(sc)
    tracer.enabled = false
    (a, wall, c)
  }
}

/** What a workload hands back: end-to-end values, per-layer values,
  * check counts and free-form run facts.
  */
final class Outcome {
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (errors.size < 50) errors += what }
  }

  def write(p: Path): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    def obj(name: String, kv: Iterable[(String, Double)]): Unit = {
      val o = root.putObject(name)
      kv.foreach { case (k, v) => o.put(k, v) }
    }
    obj("e2e", e2e); obj("layer", layer)
    root.put("attempted", attempted); root.put("failed", failed)
    val e = root.putArray("errors"); errors.foreach(e.add)
    val i = root.putObject("info")
    info.foreach {
      case (k, v: Double) => i.put(k, v)
      case (k, v: Int) => i.put(k, v)
      case (k, v: Long) => i.put(k, v)
      case (k, v) => i.put(k, v.toString)
    }
    m.writeValue(p.toFile, root)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Sum of span durations by name (seconds). */
  def spanSum(spans: Iterable[Span], name: String): Double =
    spans.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum
}

object Layers {
  /** The registry modules the per-layer report names. */
  val Modules: Seq[String] = Seq("Relational", "TextOps", "Dedup", "Similarity",
    "Events", "Analytics", "Inference", "Planning", "Sketch", "Quality")

  /** Spark engine metrics over the recorded spans, per unit of work.
    * `facts` are the plan facts of the traced SQL executions; `wallS` the
    * summed wall of the traced operations.
    */
  def spark(ctx: Ctx, units: Double, wallS: Double,
      facts: Seq[Map[String, Double]], out: Outcome): Unit = {
    val t = ctx.tracer
    val spans = t.synchronized(t.spans.toList)
    val sums = t.synchronized(t.stageSums.values.toList)
    def per(v: Double) = if (units > 0) v / units else 0.0
    def f(k: String) = facts.map(_.getOrElse(k, 0.0)).sum
    val runNs = sums.map(_.runNs).sum.toDouble
    out.layer ++= Seq(
      "spark.jobs" -> per(spans.count(_.name == "spark.job")),
      "spark.stages" -> per(spans.count(_.name == "spark.stage")),
      "spark.tasks" -> per(sums.map(_.tasks).sum),
      "spark.catalyst.analysis_ms" -> per(f("analysis_ms")),
      "spark.catalyst.optimization_ms" -> per(f("optimization_ms")),
      "spark.catalyst.planning_ms" -> per(f("planning_ms")),
      "spark.task_run_s" -> per(runNs / 1e9),
      "spark.scheduler_delay_s" -> per(sums.map(_.schedDelayMs).sum / 1e3),
      "spark.shuffle_fetch_wait_s" -> per(sums.map(_.fetchWaitMs).sum / 1e3),
      "spark.gc_s" -> per(sums.map(_.gcMs).sum / 1e3),
      "spark.shuffle_read_bytes" -> per(sums.map(_.shuffleRead).sum),
      "spark.shuffle_write_bytes" -> per(sums.map(_.shuffleWrite).sum),
      "spark.spill_bytes" -> per(sums.map(_.spill).sum),
      "spark.broadcast_bytes" -> per(f("broadcast_bytes")),
      "spark.slot_busy_ratio" -> (if (wallS > 0) runNs / 1e9 / (wallS * ctx.cpus) else 0.0))
  }

  /** Reports every per-layer metric of `BENCHMARK.json` (`layer_names` in
    * the config): 0 where the layer does not take part in the workload.
    */
  def fill(ctx: Ctx, out: Outcome): Unit =
    ctx.cfg.get("layer_names").elements().asScala.foreach(n =>
      out.layer.getOrElseUpdate(n.asText(), 0.0))

  /** Traced vs untraced wall of comparable operations, as a ratio minus 1. */
  def overhead(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else Stats.median(traced) / Stats.median(untraced) - 1.0
}

/** Directory-tree helpers for the run's work directory. */
object Trees {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists(_): Unit)
    finally s.close()
  }

  /** Hard-link copy of a directory tree: the same bytes under a new path,
    * so the engine meets a source it has never read before.
    */
  def linkTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.createLink(q, p)
    } finally s.close()
  }

  /** (relative path, size, mtime) of every regular file under `p`. */
  def listing(p: Path): Set[(String, Long, Long)] = if (!Files.exists(p)) Set.empty else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      (p.relativize(f).toString, Files.size(f), Files.getLastModifiedTime(f).toMillis)
    }.toSet finally s.close()
  }
}

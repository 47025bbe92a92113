package graft.perfbench

import java.nio.file.{Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Row count plus an order-insensitive hash of a query's result rows. */
object Fingerprint {
  def apply(df: DataFrame): String = {
    val schema = df.queryExecution.executedPlan.schema
    val (n, h) = df.queryExecution.toRdd.mapPartitions(it => Iterator(part(schema, it)))
      .collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    f"$n:$h%016x"
  }

  private def part(schema: StructType,
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow]): (Long, Long) = {
    val proj = UnsafeProjection.create(schema)
    var n = 0L; var h = 0L
    it.foreach { r =>
      val u = proj(r)
      n += 1
      h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
    }
    (n, h)
  }
}

object Registry {

  final case class Run(q: String, module: String, cold: Boolean, traced: Boolean,
      wallS: Double, cpuS: Double, buildS: Double, fp: String,
      facts: Map[String, Double], persisted: Int, cachedBytes: Long)

  private def moduleOf: Map[String, String] = Seq(
    "Relational" -> graft.queries.Relational.all, "TextOps" -> graft.queries.TextOps.all,
    "Dedup" -> graft.ops.Dedup.all, "Similarity" -> graft.ops.Similarity.all,
    "Events" -> graft.ops.Events.all, "Analytics" -> graft.ops.Analytics.all,
    "Inference" -> graft.ops.Inference.all, "Planning" -> graft.ops.Planning.all,
    "Sketch" -> graft.ops.Sketch.all, "Quality" -> graft.ops.Quality.all,
    "Multimodal" -> graft.ops.Multimodal.all, "TopK" -> graft.ops.TopK.all,
  ).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val queries = ctx.cfg.get("queries").elements().asScala.map(_.asText()).toIndexedSeq
    val expected = ctx.cfg.get("expected").fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    val fns = graft.SparkEntry.queries
    val modules = moduleOf
    // cross-check mode: keep each query's cold-pass result rows for the oracle
    val dump = Option(ctx.cfg.get("dump_dir")).map(_.asText())
    val base = Paths.get(ctx.str("reg_dir"))
    val t0 = System.nanoTime()
    val warmDir = ctx.work.resolve("reg_warm")
    Trees.linkTree(base, warmDir)
    ctx.cfg.get("warm_queries").elements().asScala.map(_.asText()).foreach { q =>
      try fns(q)(ctx.spark, warmDir.toString).queryExecution.toRdd.count(): Unit
      catch { case e: Exception => out.check(ok = false, s"warm-up $q: $e") }
      graft.ops.PlanCache.releaseScratch()
    }
    Trees.deleteTree(warmDir)
    out.info("warmup_s") = (System.nanoTime() - t0) / 1e9

    def one(s: SparkSession, dir: String, q: String, cold: Boolean, traced: Boolean): Option[Run] =
      try {
        var buildS = 0.0
        val (df, wall, cpu) = ctx.op(s"query:$q", traced) {
          val b0 = System.nanoTime()
          val df = ctx.tracer.span("registry.build")(fns(q)(s, dir))
          buildS = (System.nanoTime() - b0) / 1e9
          ctx.tracer.span("registry.execute")(df.queryExecution.toRdd.count(): Unit)
          df
        }
        val facts = if (traced) PlanFacts(df.queryExecution) else Map.empty[String, Double]
        val fp = Fingerprint(df)
        if (cold) dump.foreach(d => df.write.mode("overwrite").parquet(s"$d/$q"))
        graft.ops.PlanCache.releaseScratch()
        val (persisted, bytes) =
          if (!traced) (0, 0L)
          else (ctx.sc.getPersistentRDDs.size,
            ctx.sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
        Some(Run(q, modules.getOrElse(q, "other"), cold, traced, wall, cpu, buildS, fp,
          facts, persisted, bytes))
      } catch {
        case e: Exception =>
          graft.ops.PlanCache.releaseScratch()
          out.check(ok = false, s"$q (${if (cold) "cold" else "warm"}): $e")
          None
      }

    // one cold pass and two warm passes: a fixed amount of work per run.
    // Cold: a fresh session with an empty cache, over a source path the
    // process has never read (a hard-link copy of the same files).
    val dir: Path = ctx.work.resolve("reg_run")
    Trees.linkTree(base, dir)
    ctx.spark.catalog.clearCache()
    val session = ctx.spark.newSession()
    val coldPass = queries.flatMap(q => one(session, dir.toString, q, cold = true, ctx.traced))
    // warm: the same session and path, twice; in a traced run the two warm
    // passes trace complementary halves of the mix
    val warmPasses = (if (ctx.traced) Seq(0, 1) else Seq(-1, -1)).map { m =>
      queries.zipWithIndex.flatMap { case (q, i) =>
        one(session, dir.toString, q, cold = false, traced = m >= 0 && i % 2 == m)
      }
    }
    ctx.spark.catalog.clearCache()
    Trees.deleteTree(dir)
    val runs = coldPass ++ warmPasses.flatten

    // fingerprints: cold equals warm equals the committed expectation
    val byQuery = runs.groupBy(_.q)
    queries.foreach { q =>
      val fps = byQuery.getOrElse(q, Nil).map(_.fp).distinct
      out.check(fps.size == 1, s"$q: fingerprints differ between runs: ${fps.mkString(",")}")
      expected.get(q) match {
        case Some(e) =>
          out.check(fps == Seq(e), s"$q: fingerprint ${fps.mkString(",")} != expected $e")
        case None => out.check(ctx.cfg.get("record").asBoolean(), s"$q: no expected fingerprint")
      }
    }
    dump.foreach { d =>
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val o = m.createObjectNode()
      graft.SparkEntry.oracleSql.filter(kv => queries.contains(kv._1))
        .foreach { case (k, v) => o.put(k, v) }
      m.writeValue(Paths.get(d, "oracle_sql.json").toFile, o)
    }
    out.info("walls") =
      runs.map(r => f"${r.q}:${if (r.cold) "c" else "w"}:${r.wallS}%.3f").mkString(" ")
    out.info("fingerprints") = byQuery.map { case (q, rs) => s"$q=${rs.head.fp}" }.toSeq.sorted
      .mkString(";")

    val plainWarm = warmPasses.filter(_.forall(!_.traced))
    val warmPlain = plainWarm.flatten
    out.e2e ++= Seq(
      "invocation_p50_s" -> Stats.median(warmPlain.map(_.wallS)),
      "cold_pass_s" -> coldPass.map(_.wallS).sum,
      "warm_pass_s" -> Stats.median(plainWarm.map(_.map(_.wallS).sum)),
      "executor_cpu_s" -> Stats.median((coldPass +: plainWarm).map(_.map(_.cpuS).sum)))

    // per-layer: one unit of work is one pass over the mix
    val tr = runs.filter(_.traced)
    val units = tr.size.toDouble / queries.size
    def per(v: Double) = if (units > 0) v / units else 0.0
    val coldT = tr.filter(_.cold); val warmT = tr.filterNot(_.cold)
    val nCold = coldT.size.toDouble / queries.size
    val nWarm = warmT.size.toDouble / queries.size
    // a tail is the slowest traced query: one pass has too few samples for
    // a percentile above the median with ten samples beyond it
    def slowest(rs: Seq[Run]) = rs.map(_.wallS).maxOption.getOrElse(0.0)
    val mem = tr.map(_.facts.getOrElse("inmemory_scans", 0.0)).sum
    val files = tr.map(_.facts.getOrElse("file_scans", 0.0)).sum
    out.layer ++= Seq(
      "registry.build_s" -> per(tr.map(_.buildS).sum),
      "registry.execute_s" -> per(tr.map(r => r.wallS - r.buildS).sum),
      "query_cold_p50_s" -> Stats.median(coldT.map(_.wallS)),
      "query_cold_tail_s" -> slowest(coldT),
      "query_warm_p50_s" -> Stats.median(warmT.map(_.wallS)),
      "query_warm_tail_s" -> slowest(warmT),
      "PlanCache.persisted_after_query" -> Stats.median(tr.map(_.persisted.toDouble)),
      "PlanCache.cached_bytes" -> Stats.median(tr.map(_.cachedBytes.toDouble)),
      "PlanCache.inmemory_scans" -> per(mem),
      "PlanCache.reuse_ratio" -> (if (mem + files > 0) mem / (mem + files) else 0.0),
      "ops_failed_ratio" -> (if (out.attempted > 0) out.failed.toDouble / out.attempted else 0.0),
      "trace.overhead_ratio" -> {
        val w = warmT.map(_.wallS).sum
        val u = runs.filter(r => !r.cold && !r.traced).map(_.wallS).sum
        if (u > 0 && ctx.traced) w / u - 1.0 else 0.0
      })
    Layers.Modules.foreach { m =>
      def sum(rs: Seq[Run], n: Double) =
        if (n > 0) rs.filter(_.module == m).map(_.wallS).sum / n else 0.0
      out.layer(s"registry.$m.cold_s") = sum(coldT, nCold)
      out.layer(s"registry.$m.warm_s") = sum(warmT, nWarm)
    }
    if (tr.nonEmpty) Layers.spark(ctx, units, tr.map(_.wallS).sum, tr.map(_.facts), out)
    Layers.fill(ctx, out)
    out
  }
}

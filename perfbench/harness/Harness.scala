package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.GraftSession
import graft.catalog.{MetaStore, RunRecord, SqliteMetaStore}
import graft.compile.PipelineCompiler
import graft.run.PipelineRunner
import graft.sinks.SinkWriter
import graft.sources.SourceReader
import graft.spec.{Config, PipelineSpec, SpecJson}
import graft.transforms.Transforms

/** Drives one benchmark process through the program's public entry
  * points. Usage: `Harness <prep|main|probe|trace> <config.json>`.
  *
  *  - conf:  start the session, record its effective conf, exit.
  *  - prep:  save the spec into a fresh SQLite catalog, pre-seed it
  *           with history runs, and dump the gate oracle SQL the
  *           output check reuses. No Spark session.
  *  - probe: session, catalog open, spec load, compile; the process
  *           halts when the first Spark job starts (setup only).
  *  - main:  as probe, then `warmup_runs` untimed runs, then warm
  *           runs until `seconds` have passed.
  *  - trace: cold run, warm-up runs, untraced baseline runs, then one walk of the
  *           layers under spans and one `PipelineRunner.run` under a
  *           span; writes the trace file.
  *
  * Each run writes its sinks under its own directory so every run's
  * output can be checked afterwards. Results go to `result` as JSON.
  */
object Harness {

  private implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val cfg = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(1))), "UTF-8"))
    val str = (k: String) => (cfg \ k).extract[String]
    mode match {
      case "prep" => prep(cfg)
      case "conf" | "probe" | "main" | "trace" => run(mode, cfg, str)
      case other => sys.error(s"unknown mode $other")
    }
  }

  private def prep(cfg: JValue): Unit = {
    val store = new SqliteMetaStore(Paths.get((cfg \ "catalog").extract[String]))
    val spec = SpecJson.parse(new String(
      Files.readAllBytes(Paths.get((cfg \ "spec_file").extract[String])), "UTF-8"))
    val id = (cfg \ "pipeline_id").extract[String]
    store.save(spec, Some(id))
    val t = java.time.Instant.parse("2024-01-01T00:00:00Z")
    (0 until (cfg \ "history_runs").extract[Int]).foreach { i =>
      store.recordRun(RunRecord(f"history-$i%05d", id, "success", t.plusSeconds(60L * i),
        t.plusSeconds(60L * i + 5), 1000L + i, 1000L + i, 5000L, None,
        Map("stage" -> (1000L + i))))
    }
    (cfg \ "oracle_out").extractOpt[String].foreach { p =>
      val keys = (cfg \ "oracle_keys").extract[List[String]]
      val sql = graft.SparkEntry.oracleSql
      Trace.dump(p, Trace.confJson(keys.map(k => k -> sql(k))))
    }
  }

  /** The catalog spec with every file sink redirected under `dir`. */
  private def redirect(spec: PipelineSpec, dir: String): PipelineSpec =
    spec.copy(sinks = spec.sinks.map { s =>
      val key = s.sinkType match {
        case "sqlite" => Some("database")
        case "stdout" => None
        case _ => Some("path")
      }
      key.fold(s) { k =>
        val target = if (k == "database") s"$dir/${s.name}.db" else s"$dir/${s.name}"
        s.copy(config = Config(JObject(s.config.jv.obj.filterNot(_._1 == k) :+
          (k -> JString(target)))))
      }
    })

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def runJson(r: PipelineRunner.RunResult, wall: Double, dir: String): String =
    s"""{"wall_s":$wall,"status":"${r.status}","rows_read":${r.rowsRead},""" +
      s""""rows_written":${r.rowsWritten},"sink_dir":"$dir",""" +
      s""""error":${r.error.map(e => "\"" + e.replace("\\", "\\\\").replace("\"", "'")
        .replace("\n", " ") + "\"").getOrElse("null")}}"""

  private def countPlan(p: SparkPlan): (Int, Int) = {
    // before execution an adaptive plan's current plan is its initial
    // physical plan, exchanges included
    val root = p match { case a: AdaptiveSparkPlanExec => a.executedPlan; case x => x }
    var nodes = 0
    var exchanges = 0
    root.foreach { n =>
      nodes += 1
      if (n.isInstanceOf[Exchange]) exchanges += 1
    }
    (nodes, exchanges)
  }

  private def run(mode: String, cfg: JValue, str: String => String): Unit = {
    val startMs = Trace.nowMs
    val seconds = (cfg \ "seconds").extractOpt[Double].getOrElse(0.0)
    val outDir = str("out_dir")
    val pid = str("pipeline_id")
    val traced = mode == "trace"
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, String]

    val spark = Trace.span("session") {
      GraftSession.builder(s"local[${str("cores")}]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    }
    val sessionMs = Trace.nowMs
    if (mode == "conf") {
      finish(spark, fields, startMs, sessionMs)
      Trace.dump(str("result"), fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
      return
    }
    if (!traced) spark.sparkContext.addSparkListener(new FirstJobListener(
      if (mode != "probe") None
      else Some(first => str("result") -> (s"""{"start_ms":$startMs,"session_ready_ms":""" +
        s"""$sessionMs,"first_job_ms":$first}"""))))

    val catalogPath = Paths.get(str("catalog"))
    val plainStore = new SqliteMetaStore(catalogPath)
    // the traced run times the runner's catalog write from outside
    val store: MetaStore = if (!traced) plainStore else new MetaStore {
      def save(s: PipelineSpec, id: Option[String]): String =
        Trace.span("catalog.save")(plainStore.save(s, id))
      def load(id: String): PipelineSpec = Trace.span("catalog.load")(plainStore.load(id))
      def list(): Seq[(String, String, String)] = plainStore.list()
      def recordRun(r: RunRecord): Unit = Trace.span("catalog.record")(plainStore.recordRun(r))
      def runs(id: String): Seq[RunRecord] = plainStore.runs(id)
    }
    val template = Trace.span("spec.load")(plainStore.load(pid))

    def once(tag: String): (PipelineRunner.RunResult, Double, String) = {
      val dir = s"$outDir/$tag"
      val spec = redirect(template, dir)
      val t0 = System.nanoTime()
      val r = PipelineRunner.run(spark, spec, pid, Some(plainStore))
      (r, (System.nanoTime() - t0) / 1e9, dir)
    }

    val (jit0, gc0) = (jitMs, gcMs)
    val (cold, coldWall, coldDir) = Trace.span("cold")(once("cold"))
    fields("cold") = runJson(cold, coldWall, coldDir)
    fields("cold_jit_s") = ((jitMs - jit0) / 1e3).toString
    fields("cold_gc_s") = ((gcMs - gc0) / 1e3).toString

    // a fixed number of untimed runs first: warm runs keep getting
    // faster for several runs after the cold one (JIT), and a median
    // over a still-warming window would move with the machine's speed
    val warmups = Seq.newBuilder[String]
    Trace.span("warmup") {
      (0 until (cfg \ "warmup_runs").extractOpt[Int].getOrElse(0)).foreach { i =>
        val (r, wall, dir) = once(s"warmup_$i")
        warmups += runJson(r, wall, dir)
      }
    }
    fields("warmups") = warmups.result().mkString("[", ",", "]")

    val runs = Seq.newBuilder[String]
    if (mode == "main") {
      val w0 = System.nanoTime()
      var i = 0
      while ((System.nanoTime() - w0) / 1e9 < seconds) {
        val (r, wall, dir) = once(f"run_$i%03d")
        runs += runJson(r, wall, dir)
        i += 1
      }
      fields("window_s") = ((System.nanoTime() - w0) / 1e9).toString
    }

    if (traced) {
      // the baseline runs come first, so the walk and the traced run
      // meet a JVM as warm as the runs they are compared with
      Trace.runId = "baseline"
      Trace.span("baseline") {
        (0 until (cfg \ "baseline_runs").extractOpt[Int].getOrElse(3)).foreach { i =>
          val (b, wall, dir) = once(s"baseline_$i")
          runs += runJson(b, wall, dir)
        }
      }
      Trace.runId = "walk"
      val specText = new String(Files.readAllBytes(Paths.get(str("spec_file"))), "UTF-8")
      val walkDir = s"$outDir/walk"
      Trace.span("walk") {
        val parsed = Trace.span("spec.parse")(SpecJson.parse(specText))
        store.save(parsed, Some(pid))
        val spec = redirect(store.load(pid), walkDir)
        val compiled = Trace.span("compile") {
          val c = PipelineCompiler.compile(spark, spec)
          c.df.queryExecution.executedPlan
          c
        }
        val qe = compiled.df.queryExecution
        val ph = qe.tracker.phases
        def phase(k: String): Double = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
        val (nodes, exchanges) = countPlan(qe.executedPlan)
        fields("compile_phases") =
          s"""{"analysis_s":${phase("analysis")},"optimize_s":${phase("optimization")},""" +
            s""""physical_s":${phase("planning")},"plan_nodes":$nodes,"exchanges":$exchanges}"""
        val ctx = Trace.span("sources") {
          val read = Trace.span("sources.read")(
            spec.sources.map(s => s.name -> SourceReader.read(spark, s)).toMap)
          Trace.span("sources.scan")(read.values.foreach(
            _.write.format("noop").mode("overwrite").save()))
          read
        }
        Trace.span("transforms") {
          val unioned = spec.sources.map(s => ctx(s.name))
            .reduce(_.unionByName(_, allowMissingColumns = true))
          spec.transforms.sortBy(_.orderIndex).foldLeft(unioned) { (d, t) =>
            Trace.span(s"transforms.${t.transformType}")(Transforms(d, t, ctx))
          }
        }
        // several sinks share one persisted stream, as the runner's
        // contract states, so the walk's sink cost is the runner's
        val out = if (spec.sinks.size > 1) compiled.df.persist() else compiled.df
        Trace.span("sinks")(spec.sinks.foreach(s =>
          Trace.span(s"sinks.${s.sinkType}")(SinkWriter.write(out, s))))
        if (spec.sinks.size > 1) out.unpersist()
        fields("walk_dir") = "\"" + walkDir + "\""
      }
      Trace.runId = "run"
      val runDir = s"$outDir/traced"
      val traced0 = System.nanoTime()
      val r = Trace.span("run")(
        PipelineRunner.run(spark, redirect(template, runDir), pid, Some(store)))
      fields("traced") = runJson(r, (System.nanoTime() - traced0) / 1e9, runDir)
    }

    fields("runs") = runs.result().mkString("[", ",", "]")
    if (traced) fields("catalog_bytes") = Files.size(catalogPath).toString
    finish(spark, fields, startMs, sessionMs)
    if (traced) Trace.dump(str("trace_out"), Trace.json())
    Trace.dump(str("result"), fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
  }

  private def finish(spark: SparkSession, fields: scala.collection.mutable.Map[String, String],
      startMs: Double, sessionMs: Double): Unit = {
    fields("start_ms") = startMs.toString
    fields("session_ready_ms") = sessionMs.toString
    if (!Trace.firstJobMs.isNaN) fields("first_job_ms") = Trace.firstJobMs.toString
    fields("conf") = Trace.confJson(spark.conf.getAll)
    fields("spark_version") = "\"" + spark.version + "\""
    fields("java_version") = "\"" + sys.props("java.version") + "\""
    fields("jvm_args") = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .map(a => "\"" + a.replace("\\", "\\\\").replace("\"", "'") + "\"").mkString("[", ",", "]")
    spark.stop()
    fields("end_ms") = Trace.nowMs.toString
  }
}

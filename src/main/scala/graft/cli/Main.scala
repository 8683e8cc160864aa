package graft.cli

import java.nio.file.{Files, Paths}

import graft.GraftSession
import graft.catalog.MetaStore
import graft.compile.PipelineCompiler
import graft.run.PipelineRunner
import graft.sources.SourceReader
import graft.spec.SpecJson

/** CLI parity with the reference (main.py:517-556):
  *   create <spec.json>        register a pipeline spec
  *   list                      list pipelines
  *   run <id>                  execute a pipeline
  *   runs <id>                 show run history
  *   explain <id>              print the optimized plan (dry run)
  *   validate <id> <source>    infer + report a source's schema
  * Catalog root: $GRAFT_HOME (reference: $PIPELINE_DB, main.py:21).
  * Session: [[GraftSession]] — master from $GRAFT_MASTER, else
  * local[$SPARK_GRAFT_CPUS], else local[<all cores>].
  */
object Main {
  def main(args: Array[String]): Unit = {
    val store = MetaStore.fromEnv()
    args.toList match {
      case "create" :: path :: Nil =>
        val spec = SpecJson.parse(Files.readString(Paths.get(path)))
        PipelineCompiler.validate(spec)
        val id = store.save(spec)
        println(s"created pipeline $id (${spec.name})")

      case "list" :: Nil =>
        store.list().foreach { case (id, name, desc) => println(s"$id\t$name\t$desc") }

      case "run" :: id :: Nil =>
        // load (and implicitly validate presence) before paying Spark startup
        val spec = try store.load(id) catch {
          case _: java.nio.file.NoSuchFileException =>
            System.err.println(s"error: no such pipeline '$id'"); sys.exit(1)
        }
        val spark = GraftSession.getOrCreate()
        val res = PipelineRunner.run(spark, spec, id, Some(store))
        println(s"run ${res.runId}: ${res.status} rows_read=${res.rowsRead} " +
          s"rows_written=${res.rowsWritten} duration_ms=${res.durationMs}" +
          res.error.map(e => s" error=$e").getOrElse(""))
        if (res.stageRows.nonEmpty)
          println(res.stageRows.toSeq.sortBy(_._1)
            .map { case (n, r) => s"$n=$r" }.mkString("stage_rows: ", " ", ""))
        spark.stop()
        if (res.status != "success") sys.exit(1)

      case "runs" :: id :: Nil =>
        store.runs(id).foreach { r =>
          println(s"${r.runId}\t${r.status}\t${r.startedAt}\trows_read=${r.rowsRead}" +
            s"\trows_written=${r.rowsWritten}\t${r.durationMs}ms" +
            r.error.map(e => s"\terror=$e").getOrElse(""))
        }

      // Beyond the reference surface: print the pipeline's OPTIMIZED
      // physical plan without running it — the dry-run a Spark user
      // reaches for before paying a 100 TB execution (pushed filters,
      // pruned columns, join strategies, shuffle count all visible).
      case "explain" :: id :: Nil =>
        val spec = try store.load(id) catch {
          case _: java.nio.file.NoSuchFileException =>
            System.err.println(s"error: no such pipeline '$id'"); sys.exit(1)
        }
        val spark = GraftSession.getOrCreate()
        try println(PipelineCompiler.compile(spark, spec).df.queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
        finally spark.stop()

      // Reference validate_schema (main.py:476-497): per-field union
      // of OBSERVED row value types — see graft.run.SchemaValidate for
      // the distributed observation strategy and the reference-exact
      // empty shape.
      case "validate" :: id :: sourceName :: Nil =>
        val spec = store.load(id)
        spec.sources.find(_.name == sourceName) match {
          case None => println(s"""{"valid": false, "error": "no such source '$sourceName'"}"""); sys.exit(1)
          case Some(s) =>
            val spark = GraftSession.getOrCreate()
            val out = try graft.run.SchemaValidate.report(spark, s) finally spark.stop()
            println(out)
            if (out.startsWith("""{"valid": false""")) sys.exit(1)
        }

      case _ =>
        System.err.println(
          "usage: graft (create <spec.json> | list | run <id> | runs <id> | explain <id> | validate <id> <source>)")
        sys.exit(2)
    }
  }
}

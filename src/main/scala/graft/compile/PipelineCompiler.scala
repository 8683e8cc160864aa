package graft.compile

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftAnalysisException
import graft.sinks.SinkWriter
import graft.sources.SourceReader
import graft.spec.{PipelineSpec, TransformSpec}
import graft.transforms.Transforms

/** Spec → Catalyst logical plan.
  *
  * The reference's run loop (main.py:415-474) eagerly reads every
  * source into memory, concatenates them, and folds transforms over
  * Python lists. Here compilation is fully lazy: each source is a scan
  * node, the implicit concat is `unionByName` (null-fill, SURVEY §1.4),
  * and each transform extends the logical plan. Catalyst then
  * optimizes the *whole* pipeline globally — filters written as the
  * 5th transform still reach the parquet reader as pushed predicates.
  *
  * Validation happens at compile time (unknown types, missing join
  * targets, dangling depends_on) — the reference only discovers these
  * mid-run (main.py:178; SURVEY §3.3 declared improvement).
  */
object PipelineCompiler {

  final case class Compiled(
      /** Every named source, lazily — the join/union context
        * (reference `source_data`, main.py:437-443). */
      ctx: Map[String, DataFrame],
      /** The final transformed stream all sinks consume. */
      df: DataFrame,
      /** Per-transform row observations (name → Observation), present
        * when compiled with `observeStages` — resolved by the runner
        * after the first sink action. */
      stageObs: Seq[(String, org.apache.spark.sql.Observation)] = Nil)

  /** Refuses a spec with every problem listed at once. */
  def validate(spec: PipelineSpec): Unit = refuse(graphErrors(spec) ++ spec.sinks.collect {
    case s if !SinkWriter.knownTypes.contains(s.sinkType) =>
      s"sink '${s.name}': unknown type '${s.sinkType}'"
  })

  /** [[validate]] without the sink-type check, which is per mode: the
    * streaming runner refuses a sink type it cannot start as it starts
    * the sink (`memory` and `console` are streaming-only). */
  def validateGraph(spec: PipelineSpec): Unit = refuse(graphErrors(spec))

  private def refuse(errs: Seq[String]): Unit =
    if (errs.nonEmpty)
      throw new GraftAnalysisException(errs.mkString("invalid pipeline spec:\n  ", "\n  ", ""))

  /** Source and transform problems, the checks both runners share. */
  private def graphErrors(spec: PipelineSpec): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (spec.sources.isEmpty) errs += "pipeline has no sources"
    val sourceNames = spec.sources.map(_.name)
    if (sourceNames.distinct.size != sourceNames.size) errs += "duplicate source names"
    val tNames = spec.transforms.map(_.name).toSet
    spec.transforms.foreach { t =>
      if (!Transforms.knownTypes.contains(t.transformType))
        errs += s"transform '${t.name}': unknown type '${t.transformType}'"
      if (t.transformType == "join" || t.transformType == "bloom_join") {
        val right = t.config.str("right")
        if (right.exists(r => !sourceNames.contains(r)))
          errs += s"transform '${t.name}': ${t.transformType} right '${right.get}' is not a declared source"
      }
      // same cross-source contract for the other context-consuming ops
      val ctxKey = t.transformType match {
        case "ann_topk" => Some("queries")
        case "contamination" | "contamination_embed" | "contamination_ngram"
           | "dedup_index_check" | "bloom_check" | "robots_filter" => Some("against")
        case "dsir_weights" => Some("target")
        case "corpus_diff" => Some("old")
        case "text_unigram_ppx" => Some("lm_source") // optional; checked when present
        case "union" | "intersect" | "except" => None // validated by the ops (lists)
        case _ => None
      }
      ctxKey.foreach { key =>
        val ref = t.config.str(key)
        if (ref.exists(r => !sourceNames.contains(r)))
          errs += s"transform '${t.name}': ${t.transformType} $key '${ref.get}' is not a declared source"
      }
      // The reference persists depends_on but never validates or uses
      // it (main.py:429,446-447). We validate; execution remains the
      // order_index chain for parity.
      t.dependsOn.filterNot(tNames.contains).foreach { d =>
        errs += s"transform '${t.name}': depends_on '$d' does not exist"
      }
    }
    errs.result()
  }

  def compile(spark: SparkSession, spec: PipelineSpec,
      observeStages: Boolean = false): Compiled = {
    validate(spec)
    val ctx: Map[String, DataFrame] =
      spec.sources.map(s => s.name -> SourceReader.read(spark, s)).toMap
    // Implicit UNION ALL by name of all sources, in declaration order
    // (reference main.py:437-443); null-fill for ragged schemas.
    val unioned = spec.sources.map(s => ctx(s.name))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val obs = Seq.newBuilder[(String, org.apache.spark.sql.Observation)]
    val df = transform(unioned, spec, ctx) { (t, out) =>
      if (!observeStages) out
      else {
        // a CollectMetrics barrier per stage: rows flowing out of
        // each transform are observed DURING the sink action — no
        // extra job per stage, unlike a count() probe. Name carries
        // a nonce: observation names are session-global, and a
        // pipeline can run many times in one session
        val o = org.apache.spark.sql.Observation(
          s"graft_stage_${java.util.UUID.randomUUID()}_${t.orderIndex}_${t.name}")
        obs += t.name -> o
        out.observe(o, org.apache.spark.sql.functions
          .count(org.apache.spark.sql.functions.lit(1)).as("rows"))
      }
    }
    Compiled(ctx, df, obs.result())
  }

  /** The spec's transforms over `in`, in `order_index` order, each
    * output passed through `after` — the one fold both runners use. */
  def transform(in: DataFrame, spec: PipelineSpec, ctx: Map[String, DataFrame])(
      after: (TransformSpec, DataFrame) => DataFrame = (_, d) => d): DataFrame =
    spec.transforms.sortBy(_.orderIndex)
      .foldLeft(in)((d, t) => after(t, Transforms(d, t, ctx)))
}

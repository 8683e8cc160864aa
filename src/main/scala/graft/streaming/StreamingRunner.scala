package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftAnalysisException
import graft.compile.PipelineCompiler
import graft.sources.SourceReader
import graft.spec.{PipelineSpec, SinkSpec}

/** Streaming variant of the batch runner (SURVEY §7.2 step 8): the
  * same pipeline spec, with the FIRST source read as a file stream and
  * every other source kept static (stream–static joins are supported
  * by Spark natively). The stateless transform subset (filter / map /
  * select / rename / join / sql) and windowed aggregation apply
  * unchanged — validation and the transform fold are the batch
  * compiler's own.
  *
  * Unsupported-in-streaming operators (sort, limit, deduplicate
  * without watermark, …) surface as analysis errors at `start`, which
  * is the Spark contract; spec authors choose operators per mode.
  */
object StreamingRunner {

  final case class StreamingRun(query: StreamingQuery, checkpoint: String)

  def start(
      spark: SparkSession,
      spec: PipelineSpec,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      maxFilesPerTrigger: Int = 10): StreamingRun = {
    PipelineCompiler.validateGraph(spec)
    if (spec.sinks.size != 1)
      throw new GraftAnalysisException("streaming: exactly one sink per streaming pipeline")

    val head = spec.sources.head
    // schema from a batch read of the same location: file streams
    // require a declared schema (no inference mid-stream)
    val schema = SourceReader.read(spark, head).schema
    val format = head.sourceType match {
      case "parquet" | "csv" | "json" | "text" | "orc" => head.sourceType
      case other => throw new GraftAnalysisException(s"streaming: unsupported stream source '$other'")
    }
    val stream = Streaming.fileSource(
      spark, head.config.reqStr("path"), schema, format, maxFilesPerTrigger)

    val ctx: Map[String, DataFrame] =
      Map(head.name -> stream) ++
        spec.sources.tail.map(s => s.name -> SourceReader.read(spark, s)).toMap
    val df = PipelineCompiler.transform(stream, spec, ctx)()

    val sink = spec.sinks.head
    val query = startSink(df, sink, checkpoint, trigger)
    StreamingRun(query, checkpoint)
  }

  private def startSink(df: DataFrame, s: SinkSpec, checkpoint: String,
      trigger: Trigger): StreamingQuery = s.sinkType match {
    case "parquet" | "json" | "csv" =>
      df.writeStream.format(s.sinkType)
        .option("path", s.config.reqStr("path"))
        .option("checkpointLocation", checkpoint)
        .outputMode(s.config.str("output_mode").getOrElse("append"))
        .trigger(trigger).start()
    case "memory" =>
      df.writeStream.format("memory")
        .queryName(s.config.str("table").getOrElse("stream_out"))
        .outputMode(s.config.str("output_mode").getOrElse("append"))
        .trigger(trigger).start()
    case "console" | "stdout" =>
      df.writeStream.format("console")
        .option("numRows", s.config.int("limit").getOrElse(20))
        .outputMode(s.config.str("output_mode").getOrElse("append"))
        .trigger(trigger).start()
    case other => throw new GraftAnalysisException(s"streaming: unsupported sink '$other'")
  }
}

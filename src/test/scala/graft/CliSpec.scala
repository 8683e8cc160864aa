package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `graft.cli.Main` as a user runs it: one child JVM per command, on
  * this suite's classpath and add-opens flags, against a temporary
  * SQLite catalog (`PIPELINE_DB`). */
class CliSpec extends AnyFunSuite {
  private val dir: Path = Files.createTempDirectory("graftcli")
  private val out = dir.resolve("out")

  // the JVM reports each `--add-opens x` it was started with as `--add-opens=x`
  private val addOpens: Seq[String] = ManagementFactory.getRuntimeMXBean.getInputArguments
    .asScala.toSeq.filter(_.startsWith("--add-opens="))

  /** (exit code, stdout) of `graft args…`; stderr lands in `dir`. */
  private def graft(env: (String, String)*)(args: String*): (Int, String) = {
    val java = s"${sys.props("java.home")}/bin/java"
    val cmd = Seq(java, "-Xmx1g") ++ addOpens ++
      Seq("-cp", sys.props("java.class.path"), "graft.cli.Main") ++ args
    val pb = new ProcessBuilder(cmd.asJava)
      .redirectError(ProcessBuilder.Redirect.appendTo(dir.resolve("stderr.log").toFile))
    pb.environment().put("PIPELINE_DB", dir.resolve("catalog.db").toString)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    val stdout = new String(p.getInputStream.readAllBytes(), UTF_8)
    (p.waitFor(), stdout)
  }

  private def stderr = new String(Files.readAllBytes(dir.resolve("stderr.log")), UTF_8)

  private lazy val pipelineId: String = {
    val spec = dir.resolve("spec.json")
    val rows = Seq("a" -> 1, "b" -> 2, "a" -> 3, "b" -> 4, "a" -> 5, "c" -> 6)
      .map { case (k, v) => s"""{"k": "$k", "v": $v}""" }.mkString(", ")
    Files.writeString(spec, s"""{
      "name": "cli_inline_agg",
      "sources": [{"name": "src", "type": "inline", "config": {"data": [$rows]}}],
      "transforms": [{"name": "agg", "type": "aggregate", "config": {
        "group_by": ["k"], "aggregations": [{"function": "sum", "field": "v", "as": "total"}]}}],
      "sinks": [{"name": "out", "type": "json", "config": {"path": "$out"}}]
    }""")
    val (code, stdout) = graft()("create", spec.toString)
    assert(code == 0, stderr)
    """created pipeline (\S+) """.r.findFirstMatchIn(stdout).map(_.group(1))
      .getOrElse(fail(s"no pipeline id in: $stdout"))
  }

  test("graft create + run: an inline -> aggregate -> json spec runs and reports its rows") {
    val (code, stdout) = graft()("run", pipelineId)
    assert(code == 0, stderr)
    assert("""run \S+: success rows_read=6 rows_written=3 """.r.findFirstIn(stdout).nonEmpty, stdout)
    val written = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(f => Files.readAllLines(f).asScala).filter(_.nonEmpty).toSeq
    assert(written.size == 3)
  }

  test("graft explain: the CLI session is GraftSession's, shuffles sized to GRAFT_MASTER's cores") {
    val (code, stdout) = graft("GRAFT_MASTER" -> "local[2]")("explain", pipelineId)
    assert(code == 0, stderr)
    assert(stdout.contains("Exchange"), stdout)
    assert("""hashpartitioning\([^()]*, 2\)""".r.findFirstIn(stdout).nonEmpty, stdout)
  }
}

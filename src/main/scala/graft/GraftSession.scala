package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. The CLI, the tool mains and the test
  * suites all build their session here, so production runs under the
  * configuration the oracle gates and the benchmark check: AQE on
  * (runtime join re-planning, skew splitting, partition coalescing),
  * UTC session time, no UI, shuffle parallelism sized to the master's
  * cores instead of Spark's legacy default of 200, and the
  * nanosecond-parquet compatibility flag older testdata needs.
  */
object GraftSession {

  private val LocalCores = """local\[(\d+)(?:,\d+)?\]""".r

  /** `GRAFT_MASTER` if set, else `local[$SPARK_GRAFT_CPUS]`, else
    * `local[<available processors>]`. */
  private def defaultMaster: String = sys.env.get("GRAFT_MASTER")
    .orElse(sys.env.get("SPARK_GRAFT_CPUS").map(c => s"local[$c]"))
    .getOrElse(s"local[${Runtime.getRuntime.availableProcessors()}]")

  /** Task slots of a master URL: `local` → 1, `local[N]` / `local[N,F]`
    * → N, anything else (`local[*]`, a cluster) → this host's cores. */
  private def cores(master: String): Int = master match {
    case "local" => 1
    case LocalCores(n) => n.toInt
    case _ => Runtime.getRuntime.availableProcessors()
  }

  def builder(master: String = defaultMaster): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores(master).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // size-based post-shuffle coalescing (guide §2.2): the default
      // parallelismFirst=true refuses to coalesce below defaultParallelism,
      // so at 32 cores every tiny LM/model-table exchange runs 32
      // near-empty tasks (x_text_trigram_ppx measured 0.34 scaling
      // ratio). Spark's own docs recommend false; coalescing stays
      // byte-driven (advisory 64 MB), so real-volume shuffles are
      // untouched at any scale. Same-window A/B r19: trigram 0.74-0.78,
      // groups-family 0.88-0.94, no consistent loser.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // local writes without the chmod fork-per-file of the stock
      // RawLocalFileSystem on hosts missing libhadoop.so — behavior
      // otherwise identical (see graft.util.NoForkLocalFs)
      .config("spark.hadoop.fs.file.impl", classOf[graft.util.NoForkLocalFileSystem].getName)

  /** Shuffle partitions for a gate/test streaming query on a clone of
    * `session`: the session's count, capped at 8. A stateful
    * micro-batch runs one task per partition PER state store (a
    * stream-stream join keeps four), so on a small replay more
    * partitions only add near-empty state-store commits. The ten
    * memory-sink stream gates at sf0.01 on a 4-core host, median of 3
    * alternated runs: at local[32], 41.5 s uncapped vs 29.0 s at 8; at
    * local[4], 26.9 s at 4 vs 29.1 s at 8. Partition count only shards
    * state; results are identical. */
  def gateStatePartitions(session: SparkSession): (String, String) =
    "spark.sql.shuffle.partitions" ->
      math.min(8, session.conf.get("spark.sql.shuffle.partitions").toInt).toString

  /** The standard session at the default master, logging at WARN. */
  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

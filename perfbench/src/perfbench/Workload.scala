package perfbench

import graft.fs.FileSlice
import graft.log.{InstantRange, LogFileParser}
import graft.table.HudiTable
import org.apache.spark.sql.{DataFrame, SparkSession}

object Workload {
  /** The op kind of the set-up's traced commits. */
  val CommitOp = "commit"
}

/** One seeded workload. Each set-up repeat opens a fresh `session` and
  * builds the inputs and tables from scratch (`setup`); the last repeat's
  * session and tables are the ones measured. The runner then calls
  * `round` untimed `warmupRounds` times, timed in a closed loop with one
  * client until the run's seconds are spent, then `checks`, all in one JVM.
  */
abstract class Workload(val spark: SparkSession, val args: Args, val tr: Tracer) {
  def seed: Long = args.seed
  def dir(parts: String*): String = parts.foldLeft(args.work.resolve(args.workload))(_.resolve(_)).toString
  /** The session operations run in; fresh for every set-up repeat. */
  var session: SparkSession = spark

  /** Generates the seeded inputs and builds the tables from scratch. */
  def setup(repeat: Int): Unit
  /** Set-ups per run; `setup_s` is the median of their CPU times. */
  def setupRepeats: Int
  /** Untimed rounds before timing, the first one in a fresh session:
    * enough to get past the steep start of JIT warm-up.
    */
  def warmupRounds: Int
  /** One round of the workload's operation mix, each operation timed. */
  def round(rec: Recorder): Unit
  /** Output checks against the expected state, outside the timed region. */
  def checks(rec: Recorder): Seq[Check]
  /** Input sizes for the report. */
  def inputs: Map[String, Any]
  /** Workload-level values the trace reports (exact for a seed). */
  def traceValues: Map[String, Double] = Map.empty
  /** Results for run.py to compare against an external oracle. */
  def oracle: Map[String, Any] = Map.empty

  // ---- probes: traced calls into the core, fs and log layers ------------------

  private var lastHandle: HudiTable = _

  /** `HudiTable(...)` through the open-table cache, then its timeline. */
  def probeOpen(path: String): HudiTable = tr.span("HudiTable.open", "core") {
    val fp0 = HudiTable.fingerprintListings.get()
    val t0 = System.nanoTime()
    val t = HudiTable(spark, path)
    tr.count("core.open_s", (System.nanoTime() - t0) / 1e9)
    tr.count("core.opens", 1)
    tr.count("core.open_cache_hits", if (t eq lastHandle) 1 else 0)
    lastHandle = t
    tr.count("core.fingerprint_listings", (HudiTable.fingerprintListings.get() - fp0).toDouble)
    tr.count("core.timeline_instants", t.timeline.completedInstants.size.toDouble)
    t
  }

  /** `.fsView.slicesAsOf` at `ts`. */
  def probePlan(t: HudiTable, ts: String): Vector[FileSlice] = tr.span("FsView.slicesAsOf", "fs") {
    val t0 = System.nanoTime()
    val slices = t.fsView.slicesAsOf(ts)
    tr.count("fs.slices_as_of_s", (System.nanoTime() - t0) / 1e9)
    tr.count("fs.slices", slices.size.toDouble)
    tr.count("fs.log_files", slices.map(_.logFiles.size).sum.toDouble)
    tr.count("fs.partitions", slices.map(_.partitionPath).distinct.size.toDouble)
    slices
  }

  /** `LogFileParser.parse` of every planned log file, decode time only. */
  def probeLogs(slices: Seq[FileSlice], ts: String): Unit = tr.span("LogFileParser.parse", "log") {
    slices.flatMap(_.logFiles).foreach { lf =>
      val bytes = Files2.readAll(spark, lf.path)
      val t0 = System.nanoTime()
      val blocks = LogFileParser.parse(bytes, InstantRange.upTo(ts))
      tr.count("log.parse_s", (System.nanoTime() - t0) / 1e9)
      tr.count("log.blocks", blocks.size.toDouble)
      tr.count("log.bytes", bytes.length.toDouble)
    }
  }

  private val footerRows = scala.collection.mutable.Map.empty[String, Long]
  /** Records a read attempts: base-file rows (parquet footers) of the
    * planned slices plus the log records the scan buffered.
    */
  def probeBaseRows(slices: Seq[FileSlice]): Unit = tr.span("base.footers", "fs") {
    val rows = slices.flatMap(_.baseFile).map { b =>
      footerRows.getOrElseUpdate(b.path, {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(b.path), Files2.conf(spark))
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      })
    }.sum
    tr.count("sources.base_rows_planned", rows.toDouble)
    tr.count("sources.base_files_planned", slices.count(_.baseFile.isDefined).toDouble)
  }

  /** A read through the DSv2 source: the timed operation in untraced runs;
    * traced, it runs inside a `sources` span, preceded by the core/fs/log
    * probes and followed by a `.count()` of the same DataFrame.
    */
  def read(rec: Recorder, kind: String, path: String, ts: => String, logs: Boolean)(
      df: => DataFrame): Unit = {
    tr.op = kind
    if (tr.enabled) {
      val t = probeOpen(path)
      val slices = probePlan(t, ts)
      probeBaseRows(slices)
      if (logs) probeLogs(slices, ts)
    }
    rec.op(kind)(tr.span(kind, "sources") {
      val d = df
      if (tr.enabled) tr.count("sources.analysis_s",
        d.queryExecution.tracker.phases.get("analysis").map(_.durationMs / 1e3).getOrElse(0.0))
      Sink.full(d)
    })
    if (tr.enabled) tr.span(s"$kind.count", "sources") {
      val t0 = System.nanoTime()
      val n = df.count()
      tr.count("sources.count_s", (System.nanoTime() - t0) / 1e9)
      tr.count("sources.rows_out", n.toDouble)
    }
  }
}

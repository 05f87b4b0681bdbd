package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload for one seed and writes
  * every sample, check and trace counter to `--out` as JSON; run.py turns
  * that into the report and the result line.
  *
  * Protocol, all in one JVM (`local[cores]`, one closed-loop client):
  * set up `setupRepeats` times — each a fresh `SparkSession` (cold
  * open-table and prep caches, shared SparkContext), seeded input
  * generation and table build from scratch — then untimed warm-up rounds
  * in the last set-up's session, then rounds of the workload's operation
  * mix until `--seconds` are spent, then the output checks. Every set-up,
  * round and operation is timed in wall time and in CPU time (`Cpu`). A
  * traced run (`--trace 1`) alternates untraced and traced rounds, so the
  * tracing overhead is the difference of their medians within one JVM.
  */
object Main {
  val FloorRepeats = 20

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    java.nio.file.Files.createDirectories(args.work)
    val spark = Session.create(args.cores, args.work)
    val out =
      try run(spark, args)
      finally spark.stop()
    Json.write(args.out, out)
  }

  def workload(spark: SparkSession, args: Args, tr: Tracer): Workload = args.workload match {
    case "mor_scan" => new MorScan(spark, args, tr)
    case "curate" => new Curate(spark, args, tr)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def run(spark: SparkSession, args: Args): Map[String, Any] = {
    val tr = new Tracer(spark)
    val w = workload(spark, args, tr)
    val setupCpu = mutable.ArrayBuffer.empty[Double]
    val setup = (1 to w.setupRepeats).map { r =>
      val c0 = Cpu.sample()
      val t0 = System.nanoTime()
      w.session = spark.newSession()
      // a traced run traces the last set-up's commits (the write layer)
      tr.enabled = args.trace && r == w.setupRepeats
      if (tr.enabled) tr.attach(spark)
      w.setup(r)
      tr.enabled = false
      val wall = (System.nanoTime() - t0) / 1e9
      setupCpu += Cpu.seconds(c0, Cpu.sample())
      wall
    }
    val warm = new Recorder
    val t1 = System.nanoTime()
    w.round(warm)
    val firstRound = (System.nanoTime() - t1) / 1e9
    (2 to w.warmupRounds).foreach(_ => w.round(warm))
    val t1b = System.nanoTime()
    val cpu0 = HostCpu.sample()
    if (warm.errors.nonEmpty) System.err.println(s"[perfbench] warm-up errors: ${warm.errors}")

    val rec = new Recorder
    val traced = new Recorder
    val tracedRounds = mutable.ArrayBuffer.empty[Double]
    if (args.trace) tr.attach(w.session)
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline) {
      tr.enabled = args.trace && i % 2 == 1
      val c0 = Cpu.sample()
      val t0 = System.nanoTime()
      w.round(if (tr.enabled) traced else rec)
      (if (tr.enabled) tracedRounds else rec.rounds) += (System.nanoTime() - t0) / 1e9
      if (!tr.enabled) rec.roundsCpu += Cpu.seconds(c0, Cpu.sample())
      tr.enabled = false
      i += 1
    }
    val t2 = System.nanoTime()
    val cpu1 = HostCpu.sample()
    // the launch floor: the latency of a one-row, one-job full-result
    // operation in the same session, for each traced op's job-floor share
    val jobFloorS = if (!args.trace) 0.0 else Stats.median((1 to FloorRepeats).map { _ =>
      val t0 = System.nanoTime()
      Sink.full(w.session.range(1).toDF())
      (System.nanoTime() - t0) / 1e9
    })
    val checks = w.checks(rec)
    // every timed operation of a kind whose output check failed is failed
    val wrongOps = checks.filterNot(_.ok).map(_.ops).sum
    val t3 = System.nanoTime()
    val layers = if (args.trace) { tr.drain(); Layers.metrics(tr, w, rec, traced, tracedRounds.toSeq, jobFloorS) }
      else Map.empty[String, Any]
    val phases = Map("setup_s" -> setup.sum, "warmup_s" -> (t1b - t1) / 1e9,
      "timed_s" -> (t2 - t1b) / 1e9, "checks_s" -> (t3 - t2) / 1e9)
    Map(
      "workload" -> args.workload, "seed" -> args.seed, "cores" -> args.cores,
      "seconds" -> args.seconds, "trace" -> args.trace,
      "attempted" -> (warm.attempted + rec.attempted + traced.attempted),
      "failed" -> math.min(warm.attempted + rec.attempted + traced.attempted,
        warm.errors.size + rec.errors.size + traced.errors.size + wrongOps),
      "errors" -> (warm.errors ++ rec.errors ++ traced.errors).take(20),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "setup_s" -> setup, "setup_cpu_s" -> setupCpu,
      "rounds_s" -> rec.rounds, "rounds_cpu_s" -> rec.roundsCpu, "first_round_s" -> firstRound,
      "traced_rounds_s" -> tracedRounds,
      "ops" -> rec.byKind, "ops_cpu" -> rec.cpuByKind, "traced_ops" -> traced.byKind,
      "peak_rss_mb" -> peakRssMb,
      "phases" -> phases,
      "steal_share" -> HostCpu.stealShare(cpu0, cpu1),
      "inputs" -> w.inputs,
      "oracle" -> w.oracle) ++ layers
  }

  /** The host's CPU counters (`/proc/stat`): the share of CPU time the
    * hypervisor gave to other guests while timed shows host noise.
    */
  object HostCpu {
    def sample(): Array[Long] = {
      val f = java.nio.file.Paths.get("/proc/stat")
      if (!java.nio.file.Files.exists(f)) return Array.empty
      java.nio.file.Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    }
    def stealShare(a: Array[Long], b: Array[Long]): Double =
      if (a.length < 8 || b.length < 8) 0.0
      else {
        val total = b.sum - a.sum
        if (total > 0) (b(7) - a(7)).toDouble / total else 0.0
      }
  }

  /** The JVM's peak resident set (`VmHWM`), in MiB. */
  def peakRssMb: Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(f)) return 0.0
    val src = scala.io.Source.fromFile(f.toFile)
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

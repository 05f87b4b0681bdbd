package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, from the tracer's spans, counters
  * and Spark counters. Every value is per traced round unless it is a
  * ratio, or a `write.*` value, which is per commit of the traced set-up;
  * a layer that does no work on a workload reports 0.
  *
  * A span's self time is its duration minus its child spans minus the wall
  * time its own Spark jobs covered; that job time is the `spark` layer's.
  * Work inside Spark tasks (the per-slice merge, log decode on executors)
  * is therefore `spark` time, and the `log`/`sources` counters say what it
  * was.
  */
object Layers {
  /** The curate pipeline's operators, in pass order. */
  val CurateOps = Seq("dedup_minhash_lsh", "dedup_ngram_jaccard")

  def metrics(tr: Tracer, w: Workload, untraced: Recorder, traced: Recorder,
      tracedRounds: Seq[Double], jobFloorS: Double): Map[String, Any] = {
    val rounds = math.max(1, tracedRounds.size).toDouble
    // the set-up's commits are traced too, but are not part of a round
    val spans = tr.allSpans.filterNot(_.op == Workload.CommitOp)
    val parts = spans.map(s => s.id -> tr.sparkPart(s)).toMap
    val childS = spans.groupMapReduce(_.parent)(_.seconds)(_ + _)
    val self = mutable.LinkedHashMap(Tracer.Layers.map(_ -> 0.0): _*)
    spans.foreach { s =>
      val p = parts(s.id)
      self(s.layer) += math.max(0.0, s.seconds - childS.getOrElse(s.id, 0.0) - p.jobWallS)
      self("spark") += p.jobWallS
    }
    val wall = spans.filter(_.parent == 0L).map(_.seconds).sum

    // counters recorded by the probes and write operations, by op kind
    val byOp: Map[String, Map[String, Double]] = tr.counters.map { case (k, v) => k -> v.toMap }.toMap
    def total(name: String): Double = byOp.values.map(_.getOrElse(name, 0.0)).sum
    val commits = byOp.getOrElse(Workload.CommitOp, Map.empty)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

    // DSv2 scan counters of the timed operations (the `.count()` probes
    // excluded), and the planning phases of the timed reads
    val opSpans = spans.filterNot(_.name.endsWith(".count"))
    val readSpans = opSpans.filter(_.layer == "sources")
    def scan(k: String) = opSpans.map(s => parts(s.id).scan.getOrElse(k, 0L)).sum.toDouble
    def phase(k: String) = readSpans.map(s => parts(s.id).phases.getOrElse(k, 0.0)).sum
    // records a read attempted: base rows of the base files it read
    // (footer counts scaled by files read / files planned) plus log records
    val attemptedRecords = byOp.keys.toSeq.map { op =>
      val c = byOp(op)
      val sp = readSpans.filter(_.op == op)
      val baseRead = sp.map(s => parts(s.id).scan.getOrElse("baseFilesRead", 0L)).sum.toDouble
      val logRecs = sp.map(s => parts(s.id).scan.getOrElse("logRecordsBuffered", 0L)).sum.toDouble
      c.getOrElse("sources.base_rows_planned", 0.0) *
        math.min(1.0, ratio(baseRead, c.getOrElse("sources.base_files_planned", 0.0))) + logRecs
    }.sum
    val snapshotFull = spans.filter(s => s.name == "snapshot_read")
    val snapshotCount = byOp.get("snapshot_read").flatMap(_.get("sources.count_s"))

    val sparkTotals = parts.values
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("log.parse_s") = total("log.parse_s") / rounds
    m("log.blocks") = total("log.blocks") / rounds
    m("log.mb_per_s") = ratio(total("log.bytes") / 1e6, total("log.parse_s"))
    m("sources.log_files_read") = scan("logFilesRead") / rounds
    m("sources.log_bytes_decoded") = scan("logBytesDecoded") / rounds
    m("sources.log_records_buffered") = scan("logRecordsBuffered") / rounds
    m("sources.delete_records_seen") = scan("deleteRecordsSeen") / rounds
    m("sources.rows_out_per_record_read") = ratio(total("sources.rows_out"), attemptedRecords)
    m("sources.slices_planned") = scan("slicesPlanned") / rounds
    m("sources.slices_read") = scan("slicesRead") / rounds
    m("sources.base_files_read") = scan("baseFilesRead") / rounds
    // analysis runs when a read's DataFrame is created, in its own
    // QueryExecution; the executed write command's tracker has none
    m("sources.analysis_s") = total("sources.analysis_s") / rounds
    m("sources.optimization_s") = phase("optimization") / rounds
    m("sources.planning_s") = phase("planning") / rounds
    m("sources.execute_s") = readSpans.map(s => parts(s.id).execS).sum / rounds
    m("sources.snapshot_full_s") =
      if (snapshotFull.isEmpty) 0.0 else Stats.median(snapshotFull.map(_.seconds))
    m("sources.snapshot_count_s") = snapshotCount.map(_ / math.max(1, snapshotFull.size)).getOrElse(0.0)
    m("core.open_s") = total("core.open_s") / rounds
    m("core.opens") = total("core.opens") / rounds
    m("core.open_cache_hit_ratio") = ratio(total("core.open_cache_hits"), total("core.opens"))
    m("core.fingerprint_listings") = total("core.fingerprint_listings") / rounds
    m("core.timeline_instants") = total("core.timeline_instants") / rounds
    m("fs.slices_as_of_s") = total("fs.slices_as_of_s") / rounds
    m("fs.slices") = total("fs.slices") / rounds
    m("fs.log_files") = total("fs.log_files") / rounds
    m("fs.partitions") = total("fs.partitions") / rounds
    m("table.snapshot_api_s") = total("table.snapshot_api_s") / rounds
    Seq("write.commit_s", "write.snapshot_probes", "write.files_written", "write.bytes_written",
      "write.timeline_files").foreach(k =>
      m(k) = ratio(commits.getOrElse(k, 0.0), commits.getOrElse("write.commits", 0.0)))
    m("write.bytes_stored_per_input_byte") = w.traceValues.getOrElse("bytes_stored_per_input_byte", 0.0)
    CurateOps.foreach { op =>
      val sp = spans.filter(s => s.name == op && s.layer == "queries")
      m(s"queries.${op}_s") = sp.map(_.seconds).sum / rounds
      m(s"queries.$op.jobs") = sp.map(s => parts(s.id).jobs).sum / rounds
      m(s"queries.$op.count_s") =
        byOp.get(op).flatMap(_.get("queries.count_s")).getOrElse(0.0) / rounds
    }
    m("spark.jobs") = sparkTotals.map(_.jobs).sum / rounds
    m("spark.stages") = sparkTotals.map(_.stages).sum / rounds
    m("spark.tasks") = sparkTotals.map(_.tasks).sum / rounds
    m("spark.task_s") = sparkTotals.map(_.taskS).sum / rounds
    m("spark.task_s_per_wall_s") = ratio(sparkTotals.map(_.taskS).sum, wall)
    m("spark.shuffle_write_bytes") = sparkTotals.map(_.shuffleWrite).sum / rounds
    m("spark.spill_bytes") = sparkTotals.map(_.spill).sum / rounds
    m("spark.gc_s") = sparkTotals.map(_.gcS).sum / rounds
    // what the jobs would cost if each took only the launch floor
    m("spark.job_floor_s") = jobFloorS
    m("spark.job_floor_share") = math.min(1.0, ratio(sparkTotals.map(_.jobs).sum * jobFloorS, wall))
    // `write` runs only in the set-up, not in a round: see `write.commit_s`
    Tracer.Layers.filterNot(_ == "write").foreach { l =>
      m(s"self_s.$l") = self(l) / rounds
      m(s"share.$l") = ratio(self(l), wall)
    }
    // tracing overhead: one round of the operation mix from each kind's
    // median latency, traced minus untraced (the probes and `.count()`s a
    // traced round adds around the operations are not part of it)
    def roundOf(r: Recorder) = r.byKind.values.map(Stats.median).sum
    val (t, u) = (roundOf(traced), roundOf(untraced))
    m("trace.overhead_s") = t - u
    m("trace.overhead_ratio") = ratio(t - u, u)

    // the same, split by operation kind, for the report
    val perOp = spans.groupBy(_.op).map { case (op, ss) =>
      val ps = ss.map(s => parts(s.id))
      op -> (byOp.getOrElse(op, Map.empty).map { case (k, v) => k -> v / rounds } ++ Map(
        "wall_s" -> ss.filter(_.parent == 0L).map(_.seconds).sum / rounds,
        "spark.jobs" -> ps.map(_.jobs).sum / rounds,
        "spark.tasks" -> ps.map(_.tasks).sum / rounds,
        "spark.task_s" -> ps.map(_.taskS).sum / rounds,
        "spark.job_wall_s" -> ps.map(_.jobWallS).sum / rounds,
        "spark.job_floor_share" -> math.min(1.0,
          ratio(ps.map(_.jobs).sum * jobFloorS, ss.filter(_.parent == 0L).map(_.seconds).sum))) ++
        ps.flatMap(_.scan).groupMapReduce(k => s"scan.${k._1}")(_._2.toDouble)(_ + _)
          .map { case (k, v) => k -> v / rounds })
    }
    Map("layers" -> m, "layers_by_op" -> perOp,
      "spans" -> spans.size, "traced_rounds" -> tracedRounds.size)
  }
}

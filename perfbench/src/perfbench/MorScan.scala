package perfbench

import java.sql.Timestamp
import graft.fs.PartitionFilter
import graft.table.HudiTable
import graft.write.HudiWriter
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded lineitem-shaped rows. Row `i` has a fixed record key
  * (`l_orderkey`, `l_linenumber`) and partition (`l_returnflag`); every
  * other column is a function of (seed, i, version), version 0 being the
  * insert. `l_version` is the ordering (precombine) field, so a later
  * commit's row wins the merge.
  */
object Lineitem {
  val schema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType), StructField("l_version", IntegerType)))
  val columns: Seq[String] = schema.fieldNames.toSeq
  val keyColumns = Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_version")
  val Flags = Array("A", "N", "R")
  private val day0 = java.time.LocalDate.of(1992, 1, 2).toEpochDay

  def key(orders: Gen.Perm, i: Long): (Long, Int) = (1 + orders(i / 4), (1 + i % 4).toInt)

  def row(seed: Long, orders: Gen.Perm, i: Long, v: Int): Row = {
    val (ok, ln) = key(orders, i)
    def b(n: Long, salt: Long) = Gen.below(n, seed, i, v, salt)
    val q = 1 + b(50, 1)
    val price = math.rint(q * (900 + b(100000, 2) / 100.0) * 100) / 100
    val ship = java.time.LocalDate.ofEpochDay(day0 + b(2500, 3)).atStartOfDay()
    Row(ok, 1 + b(20000, 4), 1 + b(1000, 5), ln, q.toDouble, price,
      b(11, 6) / 100.0, b(9, 7) / 100.0, Flags(Gen.below(3, seed, i, 8).toInt),
      if (b(2, 9) == 0) "O" else "F", Timestamp.valueOf(ship), v)
  }
}

/** `mor_scan`: reads of a MERGE_ON_READ table whose every slice carries
  * three log files — an insert, two upserts of 10% of the keys and one
  * delete commit, never compacted. The table does not change while timed.
  * A round is one each of: latest snapshot, time travel to the first
  * upsert, incremental over the last three commits, read-optimized and a
  * record-key point read through the DSv2 source, and one partition read
  * through `HudiTable.snapshot(partitionFilters=…)`.
  */
final class MorScan(spark: SparkSession, args: Args, tr: Tracer) extends Workload(spark, args, tr) {
  val Rows = 24000L
  val Upserts = 2
  val UpsertRows = Rows / 10
  val DeleteRows = Rows / 100
  val PointKeys = 4
  /** Parquet files per input batch, whatever the core count. */
  val InputFiles = 4
  val setupRepeats = 3
  val warmupRounds = 2
  /** The time-travel target: the state after this commit (0 = insert). */
  val TravelTo = 1

  private val orders = Gen.perm(Rows / 4, seed, 11)
  private val rowOrder = Gen.perm(Rows, seed, 12)
  private def upsertPick(c: Int) = Gen.perm(Rows, seed, 100 + c)
  private val deletePick = Gen.perm(Rows, seed, 99)
  private val deleted: Set[Long] = (0L until DeleteRows).map(deletePick(_)).toSet
  private val pointRows: Seq[Long] = {
    val p = Gen.perm(Rows, seed, 13)
    Iterator.from(0).map(j => p(j.toLong)).filterNot(deleted).take(PointKeys).toSeq
  }

  var table = ""
  var inputDir = ""
  var instants: Vector[String] = Vector.empty
  var sourceBytes = 0L
  var tableBytes = 0L
  private var point = 0

  private def batch(n: Long, pick: Long => Long, v: Int): DataFrame = {
    val s = seed
    val o = orders
    val rdd = spark.sparkContext.range(0L, n, 1L, InputFiles).map(j => Lineitem.row(s, o, pick(j), v))
    spark.createDataFrame(rdd, Lineitem.schema)
  }
  private def input(k: Int) = s"$inputDir/batch_$k"

  /** One commit through `df.write.format("hudi-graft")`; traced, with the
    * files it added and the writer's snapshot-probe count.
    */
  private def write(df: DataFrame, op: String): Unit = {
    tr.op = Workload.CommitOp
    val before = if (tr.enabled) Files2.listing(spark, table) else Map.empty[String, Long]
    val probes0 = HudiWriter.snapshotProbes.get()
    tr.span(s"commit.$op", "write") {
      val t0 = System.nanoTime()
      df.write.format("hudi-graft")
        .option("hoodie.table.name", "lineitem_mor")
        .option("hoodie.datasource.write.table.type", "MERGE_ON_READ")
        .option("hoodie.datasource.write.recordkey.field", "l_orderkey,l_linenumber")
        .option("hoodie.datasource.write.partitionpath.field", "l_returnflag")
        .option("hoodie.datasource.write.precombine.field", "l_version")
        .option("hoodie.datasource.write.operation", op)
        .mode(SaveMode.Append).save(table)
      tr.count("write.commit_s", (System.nanoTime() - t0) / 1e9)
    }
    if (tr.enabled) {
      val now = Files2.listing(spark, table)
      val added = now.filter { case (p, _) => !before.contains(p) }
      tr.count("write.commits", 1)
      tr.count("write.snapshot_probes", (HudiWriter.snapshotProbes.get() - probes0).toDouble)
      tr.count("write.files_written", added.size.toDouble)
      tr.count("write.bytes_written", added.values.sum.toDouble)
      tr.count("write.timeline_files", now.keys.count { p =>
        val parent = new org.apache.hadoop.fs.Path(p).getParent
        parent != null && parent.getName == ".hoodie"
      }.toDouble)
    }
  }

  def setup(repeat: Int): Unit = {
    val root = dir(s"setup$repeat")
    Files2.delete(spark, dir())
    inputDir = s"$root/inputs"
    table = s"$root/table"
    val ro = rowOrder
    batch(Rows, ro(_), 0).write.parquet(input(0))
    (1 to Upserts).foreach { c =>
      val p = upsertPick(c)
      batch(UpsertRows, p(_), c).write.parquet(input(c))
    }
    val dp = deletePick
    batch(DeleteRows, dp(_), Upserts + 1).select(Lineitem.keyColumns.map(col): _*).write.parquet(input(Upserts + 1))
    write(spark.read.parquet(input(0)), "insert")
    (1 to Upserts).foreach(c => write(spark.read.parquet(input(c)), "upsert"))
    write(spark.read.parquet(input(Upserts + 1)), "delete")
    instants = HudiTable(spark, table).timeline.completedInstants.map(_.timestamp).distinct
    require(instants.size == Upserts + 2, s"expected ${Upserts + 2} commits, got $instants")
    sourceBytes = Files2.usage(spark, inputDir)._2
    tableBytes = Files2.usage(spark, table)._2
  }

  private def dsv2(s: SparkSession) = s.read.format("hudi-graft")
  private def pointKey(j: Int) = Lineitem.key(orders, pointRows(j % PointKeys))

  def round(rec: Recorder): Unit = {
    val s = session
    val latest = instants.last
    read(rec, "snapshot_read", table, latest, logs = true)(dsv2(s).load(table))
    read(rec, "time_travel_read", table, instants(TravelTo), logs = true)(
      dsv2(s).option("as.of.timestamp", instants(TravelTo)).load(table))
    read(rec, "incremental_read", table, latest, logs = true)(
      dsv2(s).option("query.type", "incremental")
        .option("start.timestamp", instants(instants.size - 4))
        .option("end.timestamp", latest).load(table))
    read(rec, "read_optimized", table, latest, logs = false)(
      dsv2(s).option("read.optimized", "true").load(table))
    val (ok, ln) = pointKey(point)
    read(rec, "point_read", table, latest, logs = true)(
      dsv2(s).load(table).filter(col("l_orderkey") === ok && col("l_linenumber") === ln))
    partitionRead(rec, Lineitem.Flags(point % Lineitem.Flags.length))
    point += 1
  }

  /** `HudiTable(...).snapshot(partitionFilters=…)`: the `table` API path. */
  private def partitionRead(rec: Recorder, flag: String): Unit = {
    tr.op = "partition_read"
    if (tr.enabled) probePlan(probeOpen(table), instants.last)
    rec.op("partition_read")(tr.span("partition_read", "table") {
      val t0 = System.nanoTime()
      Sink.full(partition(session, flag))
      tr.count("table.snapshot_api_s", (System.nanoTime() - t0) / 1e9)
    })
  }
  private def partition(s: SparkSession, flag: String) =
    HudiTable(s, table).snapshot(partitionFilters = Seq(PartitionFilter("l_returnflag", "=", Seq(flag))))

  /** Expected rows after commit `k`, straight from the generator: every
    * key at the latest version a commit up to `k` wrote, minus the keys the
    * delete commit removed, with that version.
    */
  private def stateAfter(k: Int): Seq[(Row, Int)] = {
    val version = Array.fill(Rows.toInt)(0)
    (1 to math.min(k, Upserts)).foreach { c =>
      val p = upsertPick(c)
      (0L until UpsertRows).foreach(j => version(p(j).toInt) = c)
    }
    (0L until Rows).filterNot(i => k > Upserts && deleted(i))
      .map(i => Lineitem.row(seed, orders, i, version(i.toInt)) -> version(i.toInt))
  }

  /** Rows equal as multisets: each side's rows rendered and sorted. */
  private def same(got: Seq[Row], exp: Seq[Row]): (Boolean, String) = {
    def render(rs: Seq[Row]) = rs.map(_.toSeq.mkString("|")).sorted
    val (g, e) = (render(got), render(exp))
    val diff = g.zip(e).find { case (a, b) => a != b }
    (g == e, s"got ${g.size} rows, expected ${e.size}" +
      diff.fold("")(d => s"; first difference: ${d._1} vs ${d._2}"))
  }

  def checks(rec: Recorder): Seq[Check] = {
    val ops = rec.byKind.map { case (k, v) => k -> v.size }
    val latest = instants.last
    val cols = Lineitem.columns.map(col)
    def rows(df: DataFrame): Seq[Row] = df.select(cols: _*).collect().toSeq
    val finalState = stateAfter(Upserts + 1)
    val finalRows = finalState.map(_._1)
    val keys = (0 until PointKeys).map(pointKey).toSet
    def keyOf(r: Row) = (r.getLong(0), r.getInt(3))
    def flagOf(r: Row) = r.getString(8)
    // (operation kind, what it returned, what it should have returned)
    val pairs: Seq[(String, () => Seq[Row], Seq[Row])] = Seq(
      ("snapshot_read", () => rows(dsv2(spark).load(table)), finalRows),
      ("time_travel_read", () => rows(dsv2(spark).option("as.of.timestamp", instants(TravelTo)).load(table)),
        stateAfter(TravelTo).map(_._1)),
      ("incremental_read", () => rows(dsv2(spark).option("query.type", "incremental")
        .option("start.timestamp", instants(instants.size - 4))
        .option("end.timestamp", latest).load(table)),
        finalState.collect { case (r, v) if v >= Upserts - 1 => r }),
      ("read_optimized", () => rows(dsv2(spark).option("read.optimized", "true").load(table)),
        stateAfter(0).map(_._1)),
      ("point_read", () => keys.toSeq.flatMap { case (ok, ln) =>
          rows(dsv2(spark).load(table).filter(col("l_orderkey") === ok && col("l_linenumber") === ln))
        }, finalRows.filter(r => keys(keyOf(r)))),
      // each partition read's rows must all come from the partition it asked for
      ("partition_read", () => Lineitem.Flags.toSeq.flatMap(f =>
          rows(partition(spark, f)).map(r => Row.fromSeq(f +: r.toSeq))),
        finalRows.map(r => Row.fromSeq(flagOf(r) +: r.toSeq))))
    pairs.map { case (name, got, exp) =>
      val (ok, detail) = scala.util.Try(got()).fold(e => (false, s"error: $e"), same(_, exp))
      Check(name, ok, detail, ops.getOrElse(name, 0))
    }
  }

  def inputs: Map[String, Any] = {
    val t = HudiTable(spark, table)
    val slices = t.fsView.slicesAsOf(instants.last)
    Map("rows" -> Rows, "upsert_rows_per_commit" -> UpsertRows, "delete_rows" -> DeleteRows,
      "source_bytes" -> sourceBytes, "table_bytes" -> tableBytes,
      "partitions" -> slices.map(_.partitionPath).distinct.size,
      "file_groups" -> slices.size,
      "log_files_per_slice" -> slices.map(_.logFiles.size.toDouble).sum / math.max(1, slices.size),
      "commits" -> instants.size)
  }

  override def traceValues: Map[String, Double] =
    Map("bytes_stored_per_input_byte" -> tableBytes.toDouble / sourceBytes)
}

package graft.sources

import graft.SparkTestBase
import graft.fs.{FileSlice, LogFile}
import graft.log.{LogFileWriter, SparkToAvro}
import graft.util.SerializableConf
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types._

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.file.{Files, Paths}

/** Merge edge semantics of the per-slice MOR merge, mirroring the
  * reference's RecordMerger unit tests (record_merger.rs:192-462) and
  * ordering rules (ordering.rs:41-51): the latest (ordering, seqno) wins,
  * a null ordering loses, deletes compare event time then commit time,
  * an integer-zero delete compares on commit time only, and APPEND_ONLY
  * keeps every version. Each case writes a real log file (data and delete
  * blocks) and decodes it through [[SliceMergeState]], the state both the
  * row and the columnar merge readers share.
  */
class SliceMergeStateSpec extends SparkTestBase {
  import SliceMergeStateSpec._

  private val schema = StructType(Seq(
    StructField("_hoodie_commit_time", StringType),
    StructField("_hoodie_commit_seqno", StringType),
    StructField("_hoodie_record_key", StringType),
    StructField("_hoodie_partition_path", StringType),
    StructField("ord", LongType),
    StructField("val", StringType)))
  private val avro = SparkToAvro.toAvroSchema(schema, "merge_record")
  private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)

  /** One log file holding `blocks` in order, decoded as a one-slice merge. */
  private def merge(name: String, blocks: Block*)(strategy: String = "OVERWRITE_WITH_LATEST")
      : SliceMergeState = {
    val dir = Paths.get(s"${graft.fixtures.HudiFixtureBuilder.targetDir}/fixtures/slice_merge/$name")
    Files.createDirectories(dir)
    val path = dir.resolve(".f1_000.log.1_0-0-0")
    val out = new DataOutputStream(new FileOutputStream(path.toFile))
    try blocks.foreach {
      case Data(instant, rows @ _*) =>
        LogFileWriter.avroDataBlock(out, instant, avro, rows.map(SparkToAvro.toRecord(_, schema, avro)))
      case Deletes(instant, keys @ _*) =>
        LogFileWriter.deleteBlock(out, instant, avro, keys.map { case (k, o) => (k, "p", o) })
    } finally out.close()
    val log = LogFile("f1", "000", None, "log", 1, "0-0-0", path.toString, Files.size(path))
    new SliceMergeState(FileSlice("p", "f1", "000", None, Vector(log)), schema, Some("ord"),
      strategy, new SerializableConf(spark.sessionState.newHadoopConf()), None, None,
      new ReaderCounters)
  }

  private def row(commit: String, seqno: String, key: String, ord: java.lang.Long, v: String) =
    Row(commit, seqno, key, "p", ord, v)
  private def internal(r: Row): InternalRow = toCatalyst(r).asInstanceOf[InternalRow]
  private def latest(ms: SliceMergeState): Map[String, String] =
    ms.logLatest.map { case (k, r) => k -> r.getUTF8String(5).toString }.toMap

  test("latest ordering wins; seqno breaks ties") {
    val ms = merge("latest_wins", Data("001",
      row("001", "001_1", "k1", 5L, "old"),
      row("001", "001_2", "k2", 5L, "a")), Data("002",
      row("002", "002_1", "k1", 9L, "new"),
      row("002", "002_2", "k2", 5L, "b")))() // equal ord → seqno desc
    assert(latest(ms) == Map("k1" -> "new", "k2" -> "b"))
    assert(ms.newerThan(internal(row("001", "001_9", "k", 6L, "x")), internal(row("002", "002_1", "k", 5L, "y"))))
  }

  test("null ordering in newer version loses to older non-null") {
    val ms = merge("null_ord", Data("001", row("001", "001_1", "k1", 5L, "keep")),
      Data("002", row("002", "002_1", "k1", null, "null-ord")))()
    assert(latest(ms) == Map("k1" -> "keep"))
  }

  test("delete wins on greater event time, loses on smaller") {
    val ms = merge("delete_event", Deletes("002", "k1" -> 9L, "k2" -> 3L))()
    assert(ms.deleteWins(internal(row("001", "001_1", "k1", 5L, "x"))))
    assert(!ms.deleteWins(internal(row("001", "001_2", "k2", 5L, "y"))))
  }

  test("equal event time: commit time breaks the tie") {
    val ms = merge("delete_commit", Deletes("009", "k1" -> 5L), Deletes("001", "k2" -> 5L))()
    assert(ms.deleteWins(internal(row("005", "005_1", "k1", 5L, "x")))) // later commit → delete
    assert(!ms.deleteWins(internal(row("005", "005_2", "k2", 5L, "y")))) // earlier → survives
  }

  test("integer-zero delete ordering compares on commit time only") {
    val ms = merge("delete_zero", Deletes("009", "k1" -> 0L), Deletes("001", "k2" -> 0L))()
    assert(ms.deleteWins(internal(row("005", "005_1", "k1", 7L, "x"))))
    assert(!ms.deleteWins(internal(row("005", "005_2", "k2", 7L, "y"))))
  }

  test("append-only keeps every version") {
    val ms = merge("append_only", Data("001", row("001", "001_1", "k1", 5L, "a")),
      Data("002", row("002", "002_1", "k1", 9L, "b")))("APPEND_ONLY")
    assert(ms.logAll.map(_.getUTF8String(5).toString).sorted == Seq("a", "b"))
  }
}

object SliceMergeStateSpec {
  private sealed trait Block
  private final case class Data(instant: String, rows: Row*) extends Block
  private final case class Deletes(instant: String, keys: (String, Long)*) extends Block
}

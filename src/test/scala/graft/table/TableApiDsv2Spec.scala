package graft.table

import graft.SparkTestBase
import graft.fixtures.HudiFixtureBuilder
import graft.fs.PartitionFilter
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, Row}
import org.apache.spark.sql.functions._

/** Differential between the `HudiTable` read API and the DSv2 relation:
  * every builder MOR and COW fixture, read through `snapshot` (latest,
  * as-of, read-optimized) and `incremental`, must return the same
  * multiset of rows as `spark.read.format("hudi-graft")` with the same
  * read options and the same predicate applied as a Catalyst `where`.
  * Partitioned fixtures are read partition-filtered; unpartitioned ones
  * through an optioned handle. `snapshotForFileGroups` is checked against
  * the as-of read restricted by `cdc.file.groups`.
  */
class TableApiDsv2Spec extends SparkTestBase {

  private lazy val sf = { HudiFixtureBuilder.ensure(spark, sfDir); sfDir }

  /** One predicate twice: as the API's pre-parsed partition filters and
    * as the Catalyst condition the DSv2 read is filtered with.
    */
  private final class Pred(val filters: Seq[PartitionFilter], val where: Column) {
    override def toString: String = filters.map { f =>
      s"${f.field} ${f.op}" + (f.values match {
        case Seq() => ""
        case Seq(v) => s" $v"
        case vs => vs.mkString(" (", ", ", ")")
      })
    }.mkString(" and ")
  }
  private def pred(field: String, op: String, vs: Any*): Pred = {
    val c = col(field)
    val where = op match {
      case "=" => c === vs.head
      case "!=" => c =!= vs.head
      case "<" => c < vs.head
      case "<=" => c <= vs.head
      case ">" => c > vs.head
      case ">=" => c >= vs.head
      case "in" => c.isin(vs: _*)
      case "not in" => !c.isin(vs: _*)
      case "isnull" => c.isNull
      case "isnotnull" => c.isNotNull
    }
    new Pred(Seq(PartitionFilter(field, op, vs.map(String.valueOf))), where)
  }

  /** A neutral table-config supplement: an unknown `hoodie.*` key makes
    * the handle an optioned one without changing any read semantics.
    */
  private val optioned = Map("hoodie.graft.differential.tag" -> "1")

  // binary columns stringify as identity hashes — canonicalize them
  private def canon(r: Row): String =
    r.toSeq.map {
      case b: Array[Byte] => java.util.Arrays.toString(b)
      case x => String.valueOf(x)
    }.mkString("|")
  private def rows(df: DataFrame): Seq[String] = df.collect().map(canon).sorted.toSeq

  private def reader(opts: Map[String, String]): DataFrameReader =
    spark.read.format("hudi-graft").options(opts)

  /** (shape, API read, DSv2 read) for the four read shapes. */
  private def shapes(path: String, opts: Map[String, String], p: Option[Pred])
      : Seq[(String, DataFrame, DataFrame)] = {
    val t = HudiTable(spark, path, opts)
    val fs = p.toSeq.flatMap(_.filters)
    val instants = t.timeline.completedInstants.map(_.timestamp).distinct.sorted
    val asOf = instants(math.max(0, instants.size - 2))
    val start = if (instants.size > 1) Some(instants.head) else None
    def where(df: DataFrame) = p.fold(df)(x => df.where(x.where))
    var inc = reader(opts).option("query.type", "incremental")
    start.foreach(s => inc = inc.option("start.timestamp", s))
    Seq(
      ("latest", t.snapshot(partitionFilters = fs), where(reader(opts).load(path))),
      (s"as of $asOf", t.snapshot(asOf = Some(asOf), partitionFilters = fs),
        where(reader(opts).option("as.of.timestamp", asOf).load(path))),
      ("read-optimized", t.snapshot(readOptimized = true, partitionFilters = fs),
        where(reader(opts).option("read.optimized", "true").load(path))),
      (s"incremental after ${start.getOrElse("-")}", t.incremental(start, partitionFilters = fs),
        where(inc.load(path))))
  }

  private def assertSame(label: String, api: DataFrame, dsv2: DataFrame): Unit = {
    assert(api.schema.fieldNames.toSeq == dsv2.schema.fieldNames.toSeq, s"$label: columns differ")
    val (a, d) = (rows(api), rows(dsv2))
    assert(a == d, s"$label: ${a.size} API rows vs ${d.size} DSv2 rows; " +
      s"only API: ${a.diff(d).take(3)}; only DSv2: ${d.diff(a).take(3)}")
  }

  private def check(name: String, path: String, opts: Map[String, String], p: Option[Pred]): Unit = {
    var nonEmpty = false
    for ((shape, api, dsv2) <- shapes(path, opts, p)) {
      assertSame(s"$name [$shape]${p.fold("")(x => s" where $x")}", api, dsv2)
      nonEmpty ||= !api.isEmpty
    }
    assert(nonEmpty, s"$name${p.fold("")(x => s" where $x")}: every shape read nothing")
  }

  private val priority = "o_orderpriority"
  private val region = "n_regionkey"

  /** Partitioned fixtures × partition predicates. */
  private val partitioned: Seq[(String, String => String, Seq[Pred])] = Seq(
    ("mor_orders", HudiFixtureBuilder.morPath, Seq(
      pred(priority, "=", "2-HIGH"), pred(priority, "in", "1-URGENT", "5-LOW"),
      pred(priority, "<", "3-MEDIUM"), pred(priority, "not in", "4-NOT SPECIFIED"))),
    ("mor_parquet_orders", HudiFixtureBuilder.morParquetPath, Seq(
      pred(priority, "=", "1-URGENT"), pred(priority, ">=", "3-MEDIUM"))),
    ("writer_mor_orders", HudiFixtureBuilder.writeMorPath, Seq(
      pred(priority, "=", "5-LOW"), pred(priority, "!=", "2-HIGH"))),
    ("cow_orders", HudiFixtureBuilder.cowPath, Seq(
      pred(priority, "<=", "2-HIGH"), pred(priority, ">", "4-NOT SPECIFIED"))),
    ("writer_orders", HudiFixtureBuilder.writePath, Seq(pred(priority, "=", "3-MEDIUM"))),
    ("cow_part_nation", HudiFixtureBuilder.partPath, Seq(
      pred(region, "=", 2), pred(region, ">=", 3), pred(region, "in", 0, 4),
      pred(region, "not in", 1), pred(region, "isnotnull"))),
    ("cow_dropped_nation", HudiFixtureBuilder.droppedPath, Seq(
      pred(region, "=", 1), pred(region, "<=", 2))),
    ("cow_nullpart_nation", HudiFixtureBuilder.nullpartPath, Seq(
      pred(region, "isnull"), pred(region, "isnotnull"), pred(region, "=", 3),
      pred(region, "in", 1, 2))),
    ("cow_strpart_region", HudiFixtureBuilder.strpartPath, Seq(
      pred("r_name", "=", "ASIA"), pred("r_name", "isnull"))),
    ("cow_mdt_nation", HudiFixtureBuilder.mdtPath, Seq(pred(region, "<", 2))),
    ("cow_pstats_orders", HudiFixtureBuilder.pstatsPath, Seq(pred("g", "in", 1, 3))))

  for ((name, path, preds) <- partitioned; p <- preds)
    test(s"$name where $p: HudiTable equals DSv2 on every read shape") {
      check(name, path(sf), Map.empty, Some(p))
    }

  test("optioned handle, partition-filtered: HudiTable equals DSv2 on every read shape") {
    check("mor_orders (optioned)", HudiFixtureBuilder.morPath(sf), optioned,
      Some(pred(priority, "in", "2-HIGH", "3-MEDIUM")))
  }

  /** Unpartitioned fixtures: no partition predicate to push, so the
    * handle is an optioned one.
    */
  private val unpartitioned: Seq[(String, String => String)] = Seq(
    "mor_log_only" -> HudiFixtureBuilder.morLogOnlyPath,
    "mor_insert_only" -> HudiFixtureBuilder.morInsertOnlyPath,
    "mor_widened_nation" -> HudiFixtureBuilder.morWidenedPath,
    "cow_clustered" -> HudiFixtureBuilder.clusteredPath,
    "cow_overwrite" -> HudiFixtureBuilder.overwritePath,
    "cow_widened_nation" -> HudiFixtureBuilder.widenedPath)

  for ((name, path) <- unpartitioned)
    test(s"$name through an optioned handle: HudiTable equals DSv2 on every read shape") {
      check(name, path(sf), optioned, None)
    }

  test("mor_lance_nation: HudiTable equals DSv2 on every read shape") {
    check("mor_lance_nation", HudiFixtureBuilder.morLancePath(sf), Map.empty, None)
  }

  test("snapshotForFileGroups equals the as-of DSv2 read restricted to those groups") {
    val path = HudiFixtureBuilder.morPath(sf)
    val t = HudiTable(spark, path)
    val asOf = HudiFixtureBuilder.T2
    // one group from each of two partitions, both carrying T2 update logs
    val groups = t.fsView.slicesAsOf(asOf).filter(_.hasLogFiles)
      .groupBy(_.partitionPath).toSeq.sortBy(_._1).take(2)
      .map { case (p, ss) => p -> Set(ss.map(_.fileId).min) }.toMap
    assert(groups.size == 2)
    val api = t.snapshotForFileGroups(asOf, groups)
    val dsv2 = spark.read.format("hudi-graft")
      .option("as.of.timestamp", asOf)
      .option("cdc.file.groups", groups.values.flatten.mkString(","))
      .load(path)
    assertSame("mor_orders file groups", api, dsv2)
    assert(!api.isEmpty)
    assert(api.select("_hoodie_partition_path").distinct().count() == 2)
  }
}

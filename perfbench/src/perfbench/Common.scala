package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line arguments of the JVM side (run.py passes them). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    out: Path,
    cores: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      Paths.get(req("work")).toAbsolutePath, Paths.get(req("out")).toAbsolutePath,
      req("cores").toInt)
  }
}

object Session {
  /** graft.Bench's settings: AQE on, nanos-as-long parquet, shuffle
    * partitions = cores. Every scratch directory Spark uses lives under
    * the run's work directory.
    */
  def create(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Seeded value generation: splitmix64 over (seed, row, version, salt).
  * Pure functions of their arguments, so an input is the same whichever
  * task or order computes it.
  */
object Gen {
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, parts: Long*): Long = parts.foldLeft(mix(seed))((a, p) => mix(a ^ p))
  /** Uniform in [0, n). */
  def below(n: Long, seed: Long, parts: Long*): Long = java.lang.Math.floorMod(h(seed, parts: _*), n)

  /** A seeded bijection of [0, n): i -> (a*i + b) mod n with gcd(a, n) = 1. */
  final case class Perm(n: Long, a: Long, b: Long) {
    def apply(i: Long): Long = java.lang.Math.floorMod(
      java.lang.Math.floorMod(a * i, n) + b, n)
  }
  def perm(n: Long, seed: Long, salt: Long): Perm = {
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    var a = 1 + below(n - 1, seed, salt, 1)
    while (gcd(a, n) != 1) a = 1 + java.lang.Math.floorMod(a, n - 1)
    Perm(n, a, below(n, seed, salt, 2))
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    val n = s.size
    require(n > 0, "no samples")
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] =>
      val j = new java.util.ArrayList[AnyRef]()
      s.foreach(x => j.add(toJava(x)))
      j
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Long.valueOf(i.toLong)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case other => other.asInstanceOf[AnyRef]
  }
  def write(path: Path, v: Any): Unit =
    Files.write(path, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(toJava(v)))
}

/** File-system helpers over the table directories. */
object Files2 {
  def conf(spark: SparkSession) = spark.sessionState.newHadoopConf()
  /** (files, bytes) under `dir`, recursively. */
  def usage(spark: SparkSession, dir: String): (Long, Long) = {
    val p = new HPath(dir)
    val fs = p.getFileSystem(conf(spark))
    if (!fs.exists(p)) return (0L, 0L)
    val it = fs.listFiles(p, true)
    var n = 0L
    var b = 0L
    while (it.hasNext) { val st = it.next(); n += 1; b += st.getLen }
    (n, b)
  }
  /** path -> length of every file under `dir`. */
  def listing(spark: SparkSession, dir: String): Map[String, Long] = {
    val p = new HPath(dir)
    val fs = p.getFileSystem(conf(spark))
    if (!fs.exists(p)) return Map.empty
    val it = fs.listFiles(p, true)
    val b = Map.newBuilder[String, Long]
    while (it.hasNext) { val st = it.next(); b += st.getPath.toString -> st.getLen }
    b.result()
  }
  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new HPath(dir)
    p.getFileSystem(conf(spark)).delete(p, true)
  }
  def readAll(spark: SparkSession, path: String): Array[Byte] = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf(spark))
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }
}

/** One output check: what was compared and whether it held. */
final case class Check(name: String, ok: Boolean, detail: String, ops: Int)

/** CPU time of this JVM's threads from the kernel's per-thread run time
  * (`/proc/self/task/<tid>/schedstat`, nanoseconds): the driver, Spark's
  * task threads, GC, everything but the JIT compiler threads, whose work is
  * warm-up rather than the program's cost. The kernel does not count time
  * the hypervisor gave to other guests (stolen time) as a thread's, so on
  * a shared host stolen time inflates this far less than wall time.
  */
object Cpu {
  /** Run time (ns) of each live thread, by thread id. */
  type Sample = Map[String, Long]
  private val tasks = new java.io.File("/proc/self/task")

  def sample(): Sample = {
    val ids = Option(tasks.list()).getOrElse(Array.empty[String])
    ids.iterator.flatMap { id =>
      // a thread can end between the listing and the reads
      try {
        val comm = Files.readString(tasks.toPath.resolve(id).resolve("comm"))
        if (comm.contains("CompilerThre")) None
        else Some(id -> Files.readString(tasks.toPath.resolve(id).resolve("schedstat"))
          .split(' ')(0).toLong)
      } catch { case _: java.io.IOException => None }
    }.toMap
  }

  /** CPU seconds run between two samples. A thread that started in between
    * counts in full; one that ended in between loses what it ran after `a`.
    */
  def seconds(a: Sample, b: Sample): Double =
    b.iterator.map { case (id, ns) => math.max(0L, ns - a.getOrElse(id, 0L)) }.sum / 1e9
}

/** Timings of one run: each operation's latency and CPU time (`Cpu`) by
  * kind, each round's total, and failures. Operations run to their full
  * result on a `noop` sink, never `.count()`.
  */
final class Recorder {
  /** (kind, wall seconds, CPU seconds) of each operation. */
  val ops = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
  val rounds = scala.collection.mutable.ArrayBuffer.empty[Double]
  val roundsCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
  val errors = scala.collection.mutable.ArrayBuffer.empty[String]
  var attempted = 0

  /** Times `body`; a throwing operation counts as failed and yields no sample. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val c0 = Cpu.sample()
    val t0 = System.nanoTime()
    try {
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      ops += ((kind, wall, Cpu.seconds(c0, Cpu.sample())))
      Some(r)
    } catch {
      case scala.util.control.NonFatal(e) =>
        errors += s"$kind: $e"
        System.err.println(s"[perfbench] $kind failed: $e")
        None
    }
  }
  def byKind: Map[String, Seq[Double]] = ops.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
  def cpuByKind: Map[String, Seq[Double]] = ops.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).toSeq }
}

object Sink {
  /** Runs `df` to its full result: every output column computed. */
  def full(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

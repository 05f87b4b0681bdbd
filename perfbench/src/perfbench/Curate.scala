package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A seeded `documents` corpus in the schema the operator library reads
  * (doc_id, text, lang, source, n_chars), shaped like the sf0.1 corpus:
  * texts of 10 to 100 tokens, spread evenly, over the same 30-word
  * vocabulary; languages en 3 in 7, es, zh, de and fr 1 in 7 each; source
  * `src<doc_id mod 20>`. One document in twenty is a near-duplicate:
  * an earlier document's text plus " dup". Unlike sf0.1, where a
  * near-duplicate draws its own language and source, it keeps its
  * original's, so the dedup operators, which block on (lang, source), have
  * pairs to find.
  */
object Corpus {
  val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val vocab = ("spark window merge table column vector stream value data small join " +
    "filter big group hash customer sort order slow line part fast row the agg key query a " +
    "scan batch").split(" ")
  private val langs = Array("en", "en", "en", "es", "zh", "de", "fr")

  /** (text, lang, source) of document `i` of `docs`. Lengths are a seeded
    * permutation of one fixed spread and every twentieth position of a
    * seeded permutation is a near-duplicate, so the work per document does
    * not depend on the seed.
    */
  def doc(seed: Long, docs: Long, i: Long): (String, String, String) = {
    val p = Gen.perm(docs, seed, 41)(i)
    if (i > 0 && p % 20 == 0) {
      val (t, lang, source) = doc(seed, docs, Gen.below(i, seed, i, 2))
      (t + " dup", lang, source)
    } else {
      val n = (10 + p * 91 / docs).toInt
      ((0 until n).map(t => vocab(Gen.below(vocab.length, seed, i, 4, t).toInt)).mkString(" "),
        langs(Gen.below(langs.length, seed, i, 5).toInt), s"src${i % 20}")
    }
  }

  def row(seed: Long, docs: Long, i: Long): Row = {
    val (t, lang, source) = doc(seed, docs, i)
    Row(i, t, lang, source, t.length.toLong)
  }
}

/** `curate`: the near-duplicate stage of an LLM data-curation pipeline —
  * `Layers.CurateOps` through `SparkEntry.queries` — over a seeded corpus,
  * pass after pass. No Hudi layer runs. The first pass of a session builds
  * the session's prep caches; a round is one warm pass.
  */
final class Curate(spark: SparkSession, args: Args, tr: Tracer) extends Workload(spark, args, tr) {
  val Docs = 200L
  /** A set-up takes about 0.3 s, so its median needs more repeats. */
  val setupRepeats = 9
  /** The operators' driver-side code is JIT-compiled over many passes: a
    * pass fell from 0.68 s to 0.55 s over the 50 after these 16 (4-core
    * host), and from 3.6 s to 2.1 s over the eight after two warm-up
    * passes when `sketch_cms_counts` was part of the pass.
    */
  val warmupRounds = 16
  val Ops: Seq[String] = Layers.CurateOps

  var corpusDir = ""
  private val entries = graft.SparkEntry.queries

  def setup(repeat: Int): Unit = {
    Files2.delete(spark, dir())
    corpusDir = dir(s"setup$repeat", "corpus")
    val s = seed
    val order = Gen.perm(Docs, seed, 31)
    val n = Docs
    val rdd = spark.sparkContext.range(0L, n, 1L, 1).map(j => Corpus.row(s, n, order(j)))
    spark.createDataFrame(rdd, Corpus.schema).write.parquet(s"$corpusDir/documents.parquet")
  }

  def round(rec: Recorder): Unit = Ops.foreach { op =>
    tr.op = op
    rec.op(op)(tr.span(op, "queries")(Sink.full(entries(op)(session, corpusDir))))
    if (tr.enabled) tr.span(s"$op.count", "queries") {
      val t0 = System.nanoTime()
      entries(op)(session, corpusDir).count()
      tr.count("queries.count_s", (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Each operator's full result, written for run.py's DuckDB oracle
    * comparison (`SparkEntry.oracleSql` over the same corpus).
    */
  def checks(rec: Recorder): Seq[Check] = {
    Ops.foreach(op => entries(op)(session, corpusDir).write.mode("overwrite").parquet(outDir(op)))
    Nil
  }
  private def outDir(op: String) = dir("out", op)

  def inputs: Map[String, Any] = Map("docs" -> Docs,
    "source_bytes" -> Files2.usage(spark, corpusDir)._2, "operators" -> Ops.size)

  override def oracle: Map[String, Any] = Map(
    "corpus" -> corpusDir,
    "ops" -> Ops.map(op => Map("name" -> op, "out" -> outDir(op),
      "sql" -> graft.SparkEntry.oracleSql(op))))
}

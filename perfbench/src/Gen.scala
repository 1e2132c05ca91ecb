package graft.perfbench

import graft.pipeline.DocsGen
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Seeded input generators. The same seed gives the same rows; the
  * program under test only ever sees the tables written here.
  */
object Gen {

  /** splitmix64 finalizer: decorrelates (seed, index) pairs. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The interleaved `docs(doc_id, spans)` table in the DocsGen profile
    * (including its 0.1% folio tail), written to parquet.
    */
  def docsTable(spark: SparkSession, nDocs: Long, seed: Long, partitions: Int, path: String): Unit =
    DocsGen.docs(spark, nDocs, seed, partitions = partitions)
      .write.mode(SaveMode.Overwrite).parquet(path)

  // The `documents` fixture profile: 30 words drawn uniformly, 10-100 words
  // per document, 41% "en" and the rest split over four languages, source
  // src{doc_id % 20}, 5% near-copies of an earlier document with " dup"
  // appended and ~0.2% exact copies.
  private val Vocab = Vector(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
    "a", "scan", "batch")
  private val Langs = Vector("de", "fr", "es", "zh")

  private def baseText(seed: Long, id: Long): String = {
    val rng = new DocsGen.Rng(mix(seed ^ mix(id)))
    val n = 10 + rng.nextInt(91)
    (0 until n).map(_ => Vocab(rng.nextInt(Vocab.length))).mkString(" ")
  }

  def documentRow(seed: Long, id: Long): (Long, String, String, String, Long) = {
    val rng = new DocsGen.Rng(mix(~seed ^ mix(id)))
    val roll = rng.nextInt(1000)
    val text =
      if (id > 0 && roll < 50) baseText(seed, rng.nextInt(id.toInt).toLong) + " dup"
      else if (id > 0 && roll < 52) baseText(seed, rng.nextInt(id.toInt).toLong)
      else baseText(seed, id)
    val lang = if (rng.nextInt(100) < 41) "en" else Langs(rng.nextInt(Langs.length))
    (id, text, lang, s"src${id % 20}", text.length.toLong)
  }

  /** `<dir>/documents.parquet`, one file like the fixture tiers. */
  def documentsTable(spark: SparkSession, nDocs: Long, seed: Long, dir: String): Unit = {
    import spark.implicits._
    spark.range(0L, nDocs, 1L, spark.sparkContext.defaultParallelism).as[Long]
      .map(documentRow(seed, _))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
  }

  /** Page ids for the OCR sample: a seeded, contiguous id range. */
  def pageIds(seed: Long, nPages: Int): Vector[Long] = {
    val base = java.lang.Long.remainderUnsigned(mix(seed), 1000000000L)
    Vector.tabulate(nPages)(i => base + i)
  }
}

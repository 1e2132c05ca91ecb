package graft.perfbench

import graft.SparkEntry
import graft.jobs.{ExtractJob, OcrScaleBench}
import graft.layout.GlyphOcr
import graft.media.ImageDecode
import graft.model.Doc
import graft.ops.{CacheTracker, Queries}
import graft.pipeline.{DocsGen, Extract}
import graft.storage.Lineage
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** What a workload sees of the run: the session, the seed, its own input
  * directory, the span recorder and (in a traced run) the listener.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val nproc: Int, val dir: String,
                val rec: SpanRecorder, val ledger: Option[StageLedger]) {
  /** Runs `f` with every Spark job it starts tagged `tag` and parented to `spanId`. */
  def tagged[T](tag: String, spanId: Long)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(StageLedger.TagKey, tag)
    sc.setLocalProperty(StageLedger.SpanKey, spanId.toString)
    try f finally {
      sc.setLocalProperty(StageLedger.TagKey, null)
      sc.setLocalProperty(StageLedger.SpanKey, null)
    }
  }
}

/** A pass's checked output: row count, order-insensitive digest, and what
  * went wrong (empty when the output is right).
  */
final case class Checked(rows: Long, digest: Long, failures: Vector[String])

abstract class Workload {
  def name: String
  /** Input items per pass. */
  def size: Long
  /** Untimed passes before the timed ones: enough for the JIT to reach the
    * steady state on this workload's hot code.
    */
  def warmPasses: Int = 1
  /** Writes the inputs under `c.dir`; setup calls it several times. */
  def generate(c: Ctx): Unit = ()
  /** One closed-loop pass (timed); returns the input items completed. */
  def pass(c: Ctx, k: Int): Long
  /** Checks pass `k`'s output, outside the timing. */
  def check(c: Ctx, k: Int): Checked
  /** Workload-specific per-layer metrics (traced run only) and the number
    * of failed layer checks.
    */
  def layers(c: Ctx, parent: Long): (Map[String, Double], Long)
}

object Workload {
  /** Order-insensitive digest of span rows. `bit_xor` cannot overflow, unlike
    * `sum` under ANSI mode; (doc_id, order) is unique, so no two rows cancel.
    */
  val SpanDigest = "bit_xor(xxhash64(doc_id, `order`, kind, media_ref, text))"

  def apply(name: String): Workload = name match {
    case "extract_scan" => new ExtractScan(15000L)
    case "ocr_pages" => new OcrPages(200)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def longOrZero(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)

  /** Deterministic sample of the docs input: every `stride`-th index,
    * leaving out the folio tail (DocsGen's default `skewEvery` of 1000),
    * where one 5-10k-span doc would outweigh the rest of the sample.
    */
  def sampleIndices(nDocs: Long, n: Int): Vector[Long] = {
    val stride = math.max(1L, nDocs / n)
    Vector.tabulate(n)(_ * stride).filter(i => i < nDocs && i % 1000 != 999)
  }
  val SampleDocs = 400
  val SamplePages = 40
  val DataprepDocs = 2000L

  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def timeMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

import Workload._

/** Scan a docs parquet table → `Extract.run` → doc count plus span digest.
  * Its traced run also drives `ExtractJob` over the same input ([[JobProbe]]).
  */
final class ExtractScan(nDocs: Long) extends Workload {
  val name = "extract_scan"
  val size: Long = nDocs
  // the per-doc extraction code needs ~150k documents before its pass time settles
  override val warmPasses = 10
  private def path(c: Ctx) = s"${c.dir}/docs.parquet"
  private var last = Checked(0L, 0L, Vector.empty)
  private var lastDocs = 0L

  override def generate(c: Ctx): Unit = Gen.docsTable(c.spark, nDocs, c.seed, c.nproc * 4, path(c))

  /** (docs, spans, digest) of the extraction over `docs`. */
  private def extractCount(docs: Dataset[Doc]): (Long, Long, Long) = {
    val r = Extract.run(docs)
      .select(col("doc_id"), posexplode_outer(col("spans")).as(Seq("pos", "s")))
      .select(col("doc_id"), col("pos"), col("s"), col("s.order").as("order"),
        col("s.kind").as("kind"), col("s.media_ref").as("media_ref"), col("s.text").as("text"))
      .agg(count(when(col("pos").isNull || col("pos") === 0, 1)), count(col("s")),
        expr(s"bit_xor(CASE WHEN s IS NOT NULL THEN xxhash64(doc_id, `order`, kind, media_ref, text) END)"))
      .head()
    (r.getLong(0), r.getLong(1), longOrZero(r, 2))
  }

  private def input(c: Ctx): Dataset[Doc] = {
    import c.spark.implicits._
    c.spark.read.parquet(path(c)).as[Doc]
  }

  def pass(c: Ctx, k: Int): Long = {
    val (docs, spans, digest) = extractCount(input(c))
    lastDocs = docs
    last = Checked(spans, digest, Vector.empty)
    docs
  }

  def check(c: Ctx, k: Int): Checked =
    if (lastDocs == nDocs) last
    else last.copy(failures = Vector(s"extracted $lastDocs docs, expected $nDocs"))

  def layers(c: Ctx, parent: Long): (Map[String, Double], Long) = {
    import c.spark.implicits._
    val ids = sampleIndices(nDocs, SampleDocs).map(DocsGen.docIdOf)
    val sample = c.tagged("layers", parent)(
      input(c).filter(col("doc_id").isin(ids: _*)).collect().sortBy(_.doc_id).toVector)
    val (m, bad) = Layers.extract(sample, c.rec, parent)
    // 1-task vs nproc-task throughput over the same extraction (diagnostic)
    val subDocs = math.max(1L, nDocs / c.nproc)
    val (full, fullMs) = timeMs(c.tagged("layers", parent)(extractCount(input(c))))
    val (one, oneMs) = timeMs(c.tagged("layers", parent)(
      extractCount(input(c).filter(col("doc_id") < DocsGen.docIdOf(subDocs)).coalesce(1))))
    val eff = (full._1 / fullMs) / (c.nproc * (one._1 / oneMs))
    val (jm, jobBad) = new JobProbe(c, nDocs).measure(parent, last)
    (m ++ jm + ("pipeline.scaling_eff" -> eff), bad + jobBad)
  }
}

/** `ExtractJob.run` over the same seed and doc count as [[ExtractScan]]'s
  * table, into a fresh output directory, then a no-op rerun: the job and
  * storage layers, measured in the traced run of extract_scan.
  */
final class JobProbe(c: Ctx, nDocs: Long) {
  private val Buckets = ExtractJob.DefaultBuckets

  /** One run into `out` and its no-op rerun: (per-commit ms, noop ms, failures). */
  private def runOnce(out: String): (Vector[Double], Double, Vector[String]) = {
    val commits = ArrayBuffer.empty[Double]
    var prev = System.nanoTime()
    // Args.clock is called once per group commit: the gaps between calls
    // are the per-group commit intervals
    val clock = () => {
      val now = System.nanoTime()
      commits += (now - prev) / 1e6
      prev = now
      System.currentTimeMillis()
    }
    val args = ExtractJob.Args(nDocs = nDocs, seed = c.seed, out = out,
      buckets = Buckets, cores = c.nproc.toString, clock = clock)
    val (b, d) = ExtractJob.run(c.spark, args)
    val ((b2, _), noopMs) = timeMs(ExtractJob.run(c.spark, args))
    val failures = Vector(
      if (b != Buckets || d != nDocs) Some(s"job committed $b buckets / $d docs") else None,
      if (b2 != 0) Some(s"rerun was not a no-op: $b2 buckets") else None).flatten
    (commits.toVector, noopMs, failures)
  }

  /** Layer metrics and failures; `scan` is the scan pass's checked output,
    * which the job's written data must reproduce.
    */
  def measure(parent: Long, scan: Checked): (Map[String, Double], Long) = c.tagged("layers", parent) {
    runOnce(s"${c.dir}/job-warm") // JIT and codegen for the job's plans
    val out = s"${c.dir}/job"
    val (commits, noopMs, runFailures) = runOnce(out)
    val lin = Lineage.read(c.spark, out).agg(sum(col("doc_count")), count(lit(1))).head()
    val data = c.spark.read.parquet(s"$out/data").agg(count(lit(1)), expr(SpanDigest)).head()
    val failures = runFailures ++ Vector(
      if (longOrZero(lin, 0) != nDocs) Some(s"lineage doc_count sum ${longOrZero(lin, 0)} != $nDocs") else None,
      if (data.getLong(0) != scan.rows || longOrZero(data, 1) != scan.digest)
        Some("job output differs from the scan's extraction") else None).flatten
    failures.foreach(f => System.err.println(s"extract_job: $f"))
    val files = Main.listFiles(s"$out/data").filter(_.getName.endsWith(".parquet"))
    val readMs = (0 until 5).map(_ => timeMs(Lineage.committedPartitions(c.spark, out))._2)
    val sample = sampleIndices(nDocs, SampleDocs)
      .map(i => c.rec.span("pipeline.gen_doc", "pipeline", parent)(_ => DocsGen.genDoc(i, c.seed)))
    val genUs = c.rec.all.filter(s => s.name == "pipeline.gen_doc" && s.parent == parent).map(_.durUs).sum
    (Map(
      "pipeline.gen_doc_us" -> genUs.toDouble / sample.length,
      "jobs.group_commit_ms_p50" -> medianOf(commits),
      "jobs.group_commit_ms_max" -> commits.max,
      "jobs.groups" -> commits.length.toDouble,
      "jobs.files_written" -> files.length.toDouble,
      "jobs.bytes_written_mb" -> files.map(_.length).sum / 1048576.0,
      "jobs.resume_noop_ms" -> noopMs,
      "storage.lineage_read_ms" -> medianOf(readMs),
      "storage.lineage_rows" -> lin.getLong(1).toDouble), failures.length.toLong)
  }
}

/** Decode planted-text PNG pages and OCR them, checking every page. Its
  * traced run also measures the `graft.ops` stages ([[OpsProbe]]).
  */
final class OcrPages(nPages: Int) extends Workload {
  val name = "ocr_pages"
  val size: Long = nPages.toLong
  private def path(c: Ctx) = s"${c.dir}/pages.parquet"
  private var last = (0L, 0L, 0L, 0L)

  override def generate(c: Ctx): Unit = {
    import c.spark.implicits._
    Gen.pageIds(c.seed, nPages).toDS()
      .repartition(c.nproc)
      .map(id => (id, ImageDecode.encodePng(OcrScaleBench.synthPage(id))))
      .toDF("id", "png")
      .write.mode(SaveMode.Overwrite).parquet(path(c))
  }

  private def pages(c: Ctx): Dataset[(Long, Array[Byte])] = {
    import c.spark.implicits._
    c.spark.read.parquet(path(c)).as[(Long, Array[Byte])]
  }

  def pass(c: Ctx, k: Int): Long = {
    import c.spark.implicits._
    last = pages(c).mapPartitions(OcrPages.recognize).collect()
      .foldLeft((0L, 0L, 0L, 0L))((a, p) => (a._1 + p._1, a._2 + p._2, a._3 + p._3, a._4 ^ p._4))
    last._1
  }

  def check(c: Ctx, k: Int): Checked = {
    val (n, lines, bad, dig) = last
    val failures = Vector(
      if (bad > 0) Some(s"$bad pages differ from their planted text") else None,
      if (n != nPages) Some(s"recognized $n pages, expected $nPages") else None).flatten
    Checked(lines, dig, failures)
  }

  def layers(c: Ctx, parent: Long): (Map[String, Double], Long) = {
    val sample = c.tagged("layers", parent)(pages(c).collect().sortBy(_._1).take(SamplePages).toVector)
    val (om, ocrBad) = Layers.ocr(sample, c.rec, parent)
    val (pm, opsBad) = new OpsProbe(c, DataprepDocs).measure(parent)
    (om ++ pm, ocrBad + opsBad)
  }
}

object OcrPages {
  /** Per partition: (pages, lines, mismatched pages, digest of the text). */
  def recognize(it: Iterator[(Long, Array[Byte])]): Iterator[(Long, Long, Long, Long)] = {
    var pages, lines, bad, dig = 0L
    it.foreach { case (id, png) =>
      val texts = GlyphOcr.recognizePage(ImageDecode.decode(png))
        .collect { case (_, _, l) if l.kind == "text" => l.text }
      pages += 1
      lines += texts.size
      if (texts != OcrScaleBench.expectedLines(id)) bad += 1
      dig ^= Gen.mix(id ^ scala.util.hashing.MurmurHash3.seqHash(texts).toLong)
    }
    Iterator.single((pages, lines, bad, dig))
  }
}

/** The `pipeline_dataprep` catalog entry over a seeded `documents` table
  * with the fixture profile: one full run (which also warms the JIT), then
  * its stages one at a time. A pass is ~7 s of mostly driver-side planning
  * for ~50 jobs whose speed drifts with the JIT state for many passes, too
  * unsteady for a gated workload within the run budget.
  */
final class OpsProbe(c: Ctx, nDocs: Long) {
  /** The pipeline's stages one at a time, each cached and counted, with the
    * near-dup stage's candidate and verified pairs and its connected
    * components job count.
    */
  def measure(parent: Long): (Map[String, Double], Long) = {
    val spark = c.spark
    Gen.documentsTable(spark, nDocs, c.seed, c.dir)
    val rows = c.tagged("layers", parent) {
      try SparkEntry.queries("pipeline_dataprep")(spark, c.dir).count() finally CacheTracker.releaseAll()
    }
    val m = scala.collection.mutable.Map.empty[String, Double]
    def stage(name: String, rowsIn: Long)(build: => DataFrame): DataFrame =
      c.rec.span(s"ops.$name", "ops", parent) { id =>
        val (df, ms) = timeMs(c.tagged("layers", id) {
          val d = CacheTracker.track(build)
          m(s"ops.${name}_rows_out") = d.count().toDouble
          d
        })
        m(s"ops.${name}_ms") = ms
        m(s"ops.${name}_rows_in") = rowsIn.toDouble
        df
      }
    val in = c.tagged("layers", parent) {
      val d = CacheTracker.track(Queries.docsWithDups(spark, c.dir).select(col("doc_id"), col("text")))
      d.count(); d
    }
    val clean = stage("boilerplate", in.count())(
      Queries.boilerplateCleaned(in).select(col("doc_id"), col("text")))
    val exact = stage("exact_dedup", clean.count())(Queries.exactDedupKeep(clean))
    val near = stage("near_dup", exact.count())(Queries.nearDupKeep(spark, exact))
    val kept = stage("decontaminate", near.count())(Queries.decontaminateKeep(spark, c.dir, near))
    val chunks = stage("chunk", kept.count())(Queries.chunkWindowsFrom(kept))
    // the near-dup stage's inner counts: candidates, verified pairs, CC jobs
    c.tagged("layers", parent) {
      val grams = CacheTracker.track(Queries.shingledFrom(exact))
      val pairs = CacheTracker.track(Queries.minhashPairsCore(Queries.minhashSigCoreFrom(grams)))
      val verified = CacheTracker.track(Queries.jaccardVerifyProbe(grams, pairs).select(col("a"), col("b")))
      m("ops.candidate_pairs") = pairs.count().toDouble
      m("ops.verified_pairs") = verified.count().toDouble
      m("ops.pair_yield") = m("ops.verified_pairs") / math.max(1.0, m("ops.candidate_pairs"))
      c.rec.span("ops.connected_components", "ops", parent) { id =>
        c.tagged("layers", id)(Queries.dedupComponentsFrom(spark, verified).count())
        m("ops.cc_jobs") = c.ledger.map { l => org.apache.spark.PerfbenchBus.drain(spark.sparkContext); l.jobsUnder(id) }
          .getOrElse(0L).toDouble
      }
    }
    val bad = if (chunks.count() == rows) 0L else 1L
    CacheTracker.releaseAll()
    (m.toMap, bad)
  }
}

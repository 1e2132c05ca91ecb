package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import Workload.{medianOf, timeMs}

/** One JVM, one session, one workload: set up, warm up, run closed-loop
  * passes for the given number of seconds, check every pass, and write the
  * measurements as one JSON object to `--result`.
  *
  * {{{
  * Main --workload extract_scan --seed 7 --seconds 10 --trace 0
  *      --work-dir .bench_build/run --result out.json [--launched-ms <epoch ms>]
  * Main --workload extract_scan --pin-seeds 0-9 --work-dir .bench_build/pin
  * }}}
  */
object Main {

  /** Input generations during setup; setup reports their median. */
  val GenReps = 3
  /** Timed passes at least, however short the run (twice that when traced). */
  val MinPasses = 3

  final case class PassStat(k: Int, warm: Boolean, traced: Boolean, sec: Double, items: Long,
                            cpuNs: Long, gcMs: Long, gcCount: Long, allocBytes: Long,
                            heapLiveMb: Double, checked: Checked)

  def session(nproc: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def deleteTree(path: String): Unit = org.apache.commons.io.FileUtils.deleteDirectory(new File(path))

  def listFiles(path: String): Vector[File] =
    org.apache.commons.io.FileUtils.listFiles(new File(path), null, true).asScala.toVector

  private def runPass(c: Ctx, w: Workload, k: Int, warm: Boolean, traced: Boolean): PassStat = {
    val sc = c.spark.sparkContext
    if (traced) c.ledger.foreach(sc.addSparkListener)
    val spanId = c.rec.nextId()
    val startUs = c.rec.nowUs()
    val (gc0, gcn0, alloc0) = (Jvm.gcMs(), Jvm.gcCount(), Jvm.allocatedBytes())
    val cpu0 = Jvm.processCpuNs()
    val t0 = System.nanoTime()
    val res = Try(c.tagged(if (traced) "traced" else "", spanId)(w.pass(c, k)))
    val sec = (System.nanoTime() - t0) / 1e9
    val cpu = Jvm.processCpuNs() - cpu0
    val (gc, gcn, alloc) = (Jvm.gcMs() - gc0, Jvm.gcCount() - gcn0, Jvm.allocatedBytes() - alloc0)
    c.rec.add(SpanRec(spanId, 0L, s"${w.name} pass $k", "bench", startUs, c.rec.nowUs(),
      Map("items" -> res.getOrElse(0L).toDouble, "traced" -> (if (traced) 1.0 else 0.0))))
    if (traced) c.ledger.foreach { l => PerfbenchBus.drain(sc); sc.removeSparkListener(l) }
    val heap = if (warm) Double.NaN else Jvm.liveHeapMb()
    val checked = res.flatMap(_ => Try(w.check(c, k))) match {
      case Success(ch) => ch
      case Failure(e) => Checked(0L, 0L, Vector(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
    PassStat(k, warm, traced, sec, res.getOrElse(0L), cpu, gc, gcn, alloc, heap, checked)
  }

  /** End-to-end metrics over the untraced timed passes. */
  private def endToEnd(ok: Seq[PassStat], setupS: Double): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "docs_per_s" -> medianOf(ok.map(p => p.items / p.sec)),
    "cpu_us_per_doc" -> medianOf(ok.map(p => p.cpuNs / 1e3 / math.max(1L, p.items))),
    "heap_peak_mb" -> (if (ok.isEmpty) Double.NaN else ok.map(_.heapLiveMb).max))

  /** Engine and JVM metrics per traced pass, plus the tracing overhead. */
  private def engine(l: StageLedger, traced: Seq[PassStat], untraced: Seq[PassStat]): Map[String, Double] = {
    val t = l.totalsFor("traced")
    val n = math.max(1, traced.length).toDouble
    val mb = 1048576.0
    val durs = t.taskMs.sorted
    val p50 = if (durs.isEmpty) 0.0 else durs(durs.length / 2).toDouble
    // skew of the stage that holds the most task time
    val skew = if (t.stageSkew.isEmpty) 1.0 else t.stageSkew.maxBy(_._1)._2
    Map(
      "spark.tasks" -> t.tasks / n,
      "spark.run_ms" -> t.runMs / n,
      "spark.cpu_ms" -> t.cpuMs / n,
      "spark.gc_ms" -> t.gcMs / n,
      "spark.deser_ms" -> t.deserMs / n,
      "spark.sched_wait_ms" -> t.schedWaitMs / n,
      "spark.scan_mb" -> t.scanBytes / mb / n,
      "spark.shuffle_write_mb" -> t.shuffleWriteBytes / mb / n,
      "spark.shuffle_read_mb" -> t.shuffleReadBytes / mb / n,
      "spark.shuffle_records" -> t.shuffleRecords / n,
      "spark.spill_mb" -> t.spillBytes / mb / n,
      "spark.peak_exec_mem_mb" -> t.peakExecMem / mb,
      "spark.task_p50_ms" -> p50,
      "spark.task_max_ms" -> durs.lastOption.getOrElse(0L).toDouble,
      "spark.task_skew" -> skew,
      "spark.failed_tasks" -> t.failedTasks.toDouble,
      "jvm.gc_ms" -> traced.map(_.gcMs).sum / n,
      "jvm.gc_count" -> traced.map(_.gcCount).sum / n,
      "jvm.alloc_mb" -> traced.map(_.allocBytes).sum / mb / n,
      "trace.overhead_ratio" -> medianOf(traced.map(_.sec)) / medianOf(untraced.map(_.sec)))
  }

  private def passJson(p: PassStat): String =
    s"""{"k":${p.k},"warm":${p.warm},"traced":${p.traced},"sec":${Json.num(p.sec)},""" +
      s""""items":${p.items},"cpu_s":${Json.num(p.cpuNs / 1e9)},"heap_live_mb":${Json.num(p.heapLiveMb)},""" +
      s""""rows":${p.checked.rows},"digest":"${java.lang.Long.toHexString(p.checked.digest)}",""" +
      s""""failures":[${p.checked.failures.map(Json.str).mkString(",")}]}"""

  private def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    // exit explicitly: a failure must not leave the JVM held open by Spark threads
    val code = try { run(argv); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = new File(opts("work-dir")).getAbsolutePath
    Files.createDirectories(Paths.get(work))
    val nproc = Runtime.getRuntime.availableProcessors
    if (opts.contains("pin-seeds")) { pin(opts, work, nproc); return }

    val launchedMs = opts.get("launched-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val load0 = Jvm.loadAverage()
    val spark = session(nproc, work)
    val bootS = (System.currentTimeMillis() - launchedMs) / 1e3
    val rec = new SpanRecorder
    val ledger = if (trace) Some(new StageLedger(rec)) else None
    val c = new Ctx(spark, seed, nproc, s"$work/input", rec, ledger)
    val w = Workload(opts("workload"))

    // set-up: input generation (several times; the median counts) and
    // warm-up passes, which pay for JIT and whole-stage codegen
    val genS = (0 until GenReps).map(_ => timeMs(w.generate(c))._2 / 1e3)
    val (warmPasses, warmMs) = timeMs((0 until w.warmPasses).map(runPass(c, w, _, warm = true, traced = false)))
    val setupS = bootS + medianOf(genS) + warmMs / 1e3
    val passes = ArrayBuffer.from(warmPasses)

    // closed loop: each pass starts when the previous one has finished; a
    // traced run alternates untraced and traced passes
    val t0 = System.nanoTime()
    var k = w.warmPasses
    while ((System.nanoTime() - t0) / 1e9 < seconds || k - w.warmPasses < (if (trace) 2 * MinPasses else MinPasses)) {
      passes += runPass(c, w, k, warm = false, traced = trace && (k - w.warmPasses) % 2 == 1)
      k += 1
    }
    val timed = passes.filterNot(_.warm).toSeq
    val ok = timed.filter(_.checked.failures.isEmpty)

    val (metrics, layerFailures) =
      if (!trace) (endToEnd(ok.filterNot(_.traced), setupS), 0L)
      else {
        val l = ledger.get
        spark.sparkContext.addSparkListener(l)
        val layerSpan = rec.nextId()
        val startUs = rec.nowUs()
        val (lm, bad) = w.layers(c, layerSpan)
        rec.add(SpanRec(layerSpan, 0L, s"${w.name} layers", "bench", startUs, rec.nowUs(), Map.empty))
        PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
        (engine(l, ok.filter(_.traced), ok.filterNot(_.traced)) ++ lm, bad)
      }
    val traceFile = if (trace) {
      val p = Paths.get(work, s"trace-${w.name}-seed$seed.jsonl")
      rec.writeJsonl(p)
      Some(p.toString)
    } else None

    val conf = spark.conf.getAll.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val result = obj(Seq(
      "workload" -> Json.str(w.name),
      "seed" -> seed.toString,
      "trace" -> trace.toString,
      "size" -> w.size.toString,
      "nproc" -> nproc.toString,
      "heap_max_mb" -> Json.num(Jvm.heapMaxMb()),
      "gc" -> Jvm.gcNames.map(Json.str).mkString("[", ",", "]"),
      "jvm_args" -> jvmArgs.map(Json.str).mkString("[", ",", "]"),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "spark_version" -> Json.str(spark.version),
      "spark_conf" -> obj(conf),
      "load_avg_1m" -> s"[${Json.num(load0)},${Json.num(Jvm.loadAverage())}]",
      "setup" -> obj(Seq("boot_s" -> Json.num(bootS), "gen_s" -> genS.map(Json.num).mkString("[", ",", "]"),
        "warm_s" -> Json.num(warmMs / 1e3))),
      "passes" -> passes.map(passJson).mkString("[", ",", "]"),
      "layer_failures" -> layerFailures.toString,
      "metrics" -> obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "trace_file" -> traceFile.map(Json.str).getOrElse("null")))
    Files.write(Paths.get(opts("result")), result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Pins: one pass per seed, printing its checked output as a JSON line. */
  private def pin(opts: Map[String, String], work: String, nproc: Int): Unit = {
    val Array(lo, hi) = opts("pin-seeds").split("-").map(_.toLong)
    val spark = session(nproc, work)
    (lo to hi).foreach { seed =>
      val w = Workload(opts("workload"))
      val c = new Ctx(spark, seed, nproc, s"$work/input-$seed", new SpanRecorder, None)
      w.generate(c)
      val items = w.pass(c, 0)
      val ch = w.check(c, 0)
      deleteTree(c.dir)
      println(s"""{"workload":${Json.str(w.name)},"seed":$seed,"size":${w.size},"items":$items,""" +
        s""""rows":${ch.rows},"digest":"${java.lang.Long.toHexString(ch.digest)}",""" +
        s""""failures":[${ch.failures.map(Json.str).mkString(",")}]}""")
    }
    spark.stop()
  }
}

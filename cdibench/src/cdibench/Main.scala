package cdibench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, in one JVM, against graft's public
  * entry points. Normally launched by run.py, which builds the classes,
  * generates the inputs and prints the result line.
  *
  * {{{
  * cdibench.Main --workload cdi_daily --inputs DIR --work DIR --seconds 15
  *   --trace 0|1 --cores 4 --seed 1 --result FILE [--trace-file FILE]
  *   [--probe-cdi DIR] [--probe-corpus DIR] [--selftest]
  * }}}
  */
object Main {

  /** One iteration of a workload: every operation once, from fresh state. */
  final case class Iter(runS: Double, prepS: Double, writeBytes: Long,
      sums: Map[String, TaskSums], spans: Seq[Span])

  final class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
    def flag(k: String): Boolean = m.contains(k)
  }

  def parse(args: Array[String]): Opts = {
    val m = mutable.HashMap.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) { m(k) = args(i + 1); i += 2 }
      else { m(k) = ""; i += 1 }
    }
    new Opts(m.toMap)
  }

  def session(cores: Int, work: File): SparkSession = {
    // built the way graft.Main builds its session, in local mode with one
    // task slot per core; every file Spark writes stays under `work`
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-corporate-data-ingestion")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(spark: SparkSession, name: String, inputs: File, work: File): Workload = name match {
    case "cdi_daily" | "cdi_catchup" => new CdiWorkload(spark, name, inputs, work)
    case "corpus_dedup" => new CorpusWorkload(spark, name, inputs, work)
    case other => sys.error(s"unknown workload $other")
  }

  private def now(): Long = System.nanoTime()

  def median(xs: Seq[Double]): Double = Layers.median(xs)

  final class Iterations(spark: SparkSession, listener: TagListener) {
    val sc = spark.sparkContext
    var attempted = 0
    var failed = 0

    def iterate(w: Workload, iter: Int, tr: Tracer): Iter = {
      val p0 = now()
      w.prepare(iter)
      val prepS = (now() - p0) / 1e9
      val mark = tr.recorded.size
      val before = listener.snapshot(sc)
      val opS = mutable.ArrayBuffer.empty[Double]
      val bad = mutable.Set.empty[Int]
      var fileBytes = 0L
      var aborted = false
      w.opNames.indices.foreach { k =>
        if (aborted) bad += k
        else {
          val t0 = now()
          try w.runOp(k, tr)
          catch {
            case NonFatal(e) =>
              bad += k
              aborted = true
              System.err.println(s"[cdibench] ${w.name} ${w.opNames(k)} threw:")
              e.printStackTrace()
          }
          opS += (now() - t0) / 1e9
          fileBytes += w.newOutputBytes()
        }
      }
      val sums = TagListener.delta(listener.snapshot(sc), before)
      if (!aborted) {
        try w.check().foreach { case (k, msg) =>
          bad += k
          System.err.println(s"[cdibench] ${w.name} check failed at ${w.opNames(k)}: $msg")
        } catch {
          case NonFatal(e) =>
            bad ++= w.opNames.indices
            System.err.println(s"[cdibench] ${w.name} output check threw: $e")
        }
      }
      w.finish()
      attempted += w.opNames.size
      failed += bad.size
      val total = TagListener.total(sums)
      System.err.println(f"[cdibench] ${w.name} iteration $iter: ${opS.sum}%.3f s (" +
        opS.map(s => f"$s%.2f").mkString(" + ") + f"), prepare $prepS%.2f s, failed ${bad.size}")
      Iter(opS.sum, prepS, fileBytes + total.shuffleWrite + total.spill, sums, tr.since(mark))
    }

    /** Iterations from fresh state until `seconds` have passed (at least one). */
    def section(w: Workload, tr: Tracer, seconds: Double, first: Int): Seq[Iter] = {
      val t0 = now()
      val out = mutable.ArrayBuffer.empty[Iter]
      while (out.isEmpty || (now() - t0) / 1e9 < seconds) out += iterate(w, first + out.size, tr)
      out.toSeq
    }
  }

  /** Seconds spent waiting until `path` exists. */
  def awaitFile(path: String): Double = {
    val t0 = now()
    while (!new File(path).exists()) Thread.sleep(20)
    (now() - t0) / 1e9
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def spanSum(it: Iter, name: String): Double = it.spans.filter(_.name == name).map(_.seconds).sum

  private def tagged(it: Iter, tag: String): TaskSums = it.sums.getOrElse(tag, new TaskSums)

  /** Runner, Snapshot and Hive-export layer metrics of traced CDI iterations. */
  def cdiLayers(iters: Seq[Iter]): Map[String, Double] = {
    def med(f: Iter => Double) = median(iters.map(f))
    Map(
      "runner.update_s" -> med(spanSum(_, "runner.update")),
      "runner.export_hive_s" -> med(spanSum(_, "runner.exportToHive")),
      "snapshot.rows_in" -> med(tagged(_, "runner.update").recordsRead.toDouble),
      "snapshot.rows_out" -> med(tagged(_, "runner.update").recordsWritten.toDouble),
      "snapshot.write_mb" -> med(tagged(_, "runner.update").bytesWritten / 1e6),
      "snapshot.shuffle_mb" -> med(tagged(_, "runner.update").shuffleWrite / 1e6),
      "hive.rows" -> med(tagged(_, "runner.exportToHive").recordsWritten.toDouble))
  }

  /** Operator and Stage layer metrics of traced dedup iterations. */
  def corpusLayers(iters: Seq[Iter], w: CorpusWorkload): Map[String, Double] = {
    def med(f: Iter => Double) = median(iters.map(f))
    val o = w.outputs()
    Map(
      "dedup.exact_s" -> med(spanSum(_, "dedup.dExact")),
      "dedup.minhash_s" -> med(spanSum(_, "dedup.dMinhashLsh")),
      "dedup.simhash_s" -> med(spanSum(_, "dedup.dSimhash")),
      "dedup.pairs" -> (o.minhash.size + o.simhash.size).toDouble,
      "dedup.planted_recall" -> Checks.recall(w.expected, o.minhash),
      "dedup.simhash_recall" -> Checks.recall(w.expected, o.simhash),
      "stage.resident_cache_mb" -> w.residentMb.maxOption.getOrElse(0.0))
  }

  /** Share of an iteration's run_s that its stage spans cover. For the
    * CDI workloads these are sampled from the running Runner.runRange.
    */
  def stageCoverage(it: Iter, stages: Set[String]): Double =
    it.spans.filter(s => stages(s.name)).map(_.seconds).sum / it.runS

  /** Stage spans must cover run_s within this share. */
  val CoverageTolerance = 0.05

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    val work = new File(o("work")).getAbsoluteFile
    work.mkdirs()
    val cores = o("cores").toInt
    val spark = session(cores, work)
    val listener = new TagListener
    spark.sparkContext.addSparkListener(listener)
    val code =
      try {
        if (o.flag("selftest")) {
          o.get("inputs-ready").foreach(awaitFile)
          SelfTest.run(spark, new File(o("probe-cdi")), new File(o("probe-corpus")), work)
        } else { run(o, spark, listener, work, cores, jvmStartMs); 0 }
      } finally spark.stop()
    sys.exit(code)
  }

  def run(o: Opts, spark: SparkSession, listener: TagListener, work: File, cores: Int,
      jvmStartMs: Long): Unit = {
    val sc = spark.sparkContext
    val name = o("workload")
    val seconds = o("seconds").toDouble
    val traceOn = o("trace") == "1"
    val runId = f"$name-${o("seed")}-${System.currentTimeMillis()}%x"
    val r = new Iterations(spark, listener)
    val tracer = new Tracer(sc, runId, enabled = traceOn, listener)

    // the generator runs while the session starts; waiting for it is not set-up
    val waitS = o.get("inputs-ready").fold(0.0)(awaitFile)
    val w = workload(spark, name, new File(o("inputs")), work)
    w.setup()
    // warm-up iterations are checked like any other, but they are set-up
    val untraced = new Tracer(sc, runId, enabled = false)
    (0 until w.warmUps).foreach(r.iterate(w, _, untraced))
    val startupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - waitS
    System.err.println(f"[cdibench] set up in $startupS%.2f s after waiting $waitS%.2f s for inputs")
    // a traced run traces its timed section, which is otherwise the same
    val timed = r.section(w, tracer, seconds, w.warmUps)
    val peakRss = peakRssMb()
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    var correct = true

    if (!traceOn) {
      metrics("run_s") = median(timed.map(_.runS))
      metrics("records_per_s") = median(timed.map(w.records / _.runS))
      metrics("write_amp") = median(timed.map(_.writeBytes.toDouble / w.inputBytes))
      metrics("setup_s") = startupS + median(timed.map(_.prepS))
    } else {
      val traced = timed
      val tracedRunS = median(traced.map(_.runS))
      val coverage = median(traced.map(stageCoverage(_, w.stageNames)))
      if (math.abs(1 - coverage) > CoverageTolerance) {
        correct = false
        System.err.println(f"[cdibench] stage spans cover $coverage%.3f of run_s, outside ±$CoverageTolerance")
      }
      metrics("trace.traced_run_s") = tracedRunS
      metrics("trace.overhead_s") = tracer.overheadNs / 1e9 / traced.size
      metrics("trace.stage_coverage") = coverage
      metrics("jvm.peak_rss_mb") = peakRss
      def total(f: TaskSums => Double) = median(traced.map(it => f(TagListener.total(it.sums))))
      metrics("spark.task_cpu_s") = total(_.cpuNs / 1e9)
      metrics("spark.gc_s") = total(_.gcMs / 1e3)
      metrics("spark.shuffle_write_mb") = total(_.shuffleWrite / 1e6)
      metrics("spark.spill_mb") = total(_.spill / 1e6)
      metrics("spark.jobs") = total(_.jobs.toDouble)
      metrics("spark.tasks") = total(_.tasks.toDouble)
      metrics("spark.core_busy_frac") =
        median(traced.map(it => TagListener.total(it.sums).runMs / 1e3 / (it.runS * cores)))

      // layers this workload does not exercise are measured on small
      // probe inputs of the other kind, so every run reports every layer
      def probe(pw: Workload): Seq[Iter] = { pw.setup(); Seq(r.iterate(pw, 0, tracer)) }
      val cdi = w match {
        case c: CdiWorkload =>
          metrics ++= cdiLayers(traced)
          c
        case _ =>
          val pw = new CdiWorkload(spark, "probe_cdi", new File(o("probe-cdi")), work)
          metrics ++= cdiLayers(probe(pw))
          pw
      }
      w match {
        case c: CorpusWorkload => metrics ++= corpusLayers(traced, c)
        case _ =>
          val pw = new CorpusWorkload(spark, "probe_corpus", new File(o("probe-corpus")), work)
          metrics ++= corpusLayers(probe(pw), pw)
      }
      metrics ++= tracer.span("layers.ingestChain")(Layers.ingestChain(spark, cdi, tracer, listener, work))
      metrics ++= tracer.span("layers.kernels")(Layers.kernels(spark, cdi, tracer))

      o.get("trace-file").foreach { f =>
        val file = new File(f)
        file.getParentFile.mkdirs()
        Files.write(file.toPath,
          tracer.json(name, o("seed").toLong, listener.snapshot(sc)).getBytes(StandardCharsets.UTF_8))
        System.err.println(s"[cdibench] trace written to $f")
      }
    }

    correct &&= r.failed == 0
    val body = metrics.map { case (k, v) => s""""$k": ${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
      .mkString(", ")
    Files.write(new File(o("result")).toPath,
      s"""{"correct": $correct, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {$body}}"""
        .getBytes(StandardCharsets.UTF_8))
  }
}

package cdibench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{AesCtr, UcJson}
import graft.pipeline.{Envelope, Ingest}

/** Per-layer attribution passes that run only in a traced run, after the
  * timed sections.
  */
object Layers {
  private def now(): Long = System.nanoTime()

  /** Kernel results land here, so the JIT cannot drop the timed work. */
  @volatile private var blackhole = 0L

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timed(body: => Unit): Double = { val t0 = now(); body; (now() - t0) / 1e9 }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The ingest chain on the workload's first date, split by
    * differential materialization to the `noop` sink: parse only; the
    * key scan; + keys + decrypt; + process; then the real daily write.
    * Each `noop` step is repeated and its median kept; the daily write,
    * which costs as much as all of them together, runs once.
    */
  def ingestChain(spark: SparkSession, w: CdiWorkload, tr: Tracer, listener: TagListener,
      work: File, reps: Int = 3): Map[String, Double] = {
    val d = w.exportDates.head
    val lines = spark.read.text(w.sourcePrefix(d))
    def med(body: => Unit): Double = median((1 to reps).map(_ => timed(body)))

    val before = listener.snapshot(spark.sparkContext)
    val calls0 = w.resolveCalls.get()
    val parseS = med(tr.span("envelope.parse")(noop(Envelope.parse(lines))))
    val ok = Envelope.parse(lines).filter(!col("malformed")).drop("malformed", "value")
    var withKeys: DataFrame = null
    val resolveS = med(tr.span("keyservice.withDataKeys") { withKeys = w.keys.withDataKeys(ok) })
    val distinctKeys = (w.resolveCalls.get() - calls0).toDouble / reps
    val decryptS = med(tr.span("ingest.decrypt")(noop(Ingest.decrypt(withKeys))))
    val processed = Ingest.process(Ingest.decrypt(withKeys))
    val processS = med(tr.span("ingest.process")(noop(processed)))
    val dir = new File(work, "ingest-chain")
    val writeS = timed(tr.span("ingest.writeDaily")(Ingest.writeDaily(Ingest.dailyIncrement(processed, d), dir.getPath)))
    val sums = TagListener.delta(listener.snapshot(spark.sparkContext), before)
    val recordsIn = lines.count()
    val malformed = Ingest.malformedLines(lines).count()
    val landed = spark.read.parquet(dir.getPath).count()
    Workload.delete(dir)
    // source bytes one pass over the date reads: one key scan plus the
    // daily write (which reads the source for its range sample and its write)
    val read = sums.get("keyservice.withDataKeys").fold(0L)(_.bytesRead) / reps +
      sums.get("ingest.writeDaily").fold(0L)(_.bytesRead)
    Map(
      "envelope.parse_s" -> parseS,
      "keyservice.resolve_s" -> resolveS,
      "keyservice.distinct_keys" -> distinctKeys,
      "ingest.decrypt_s" -> (decryptS - parseS),
      "ingest.process_s" -> (processS - decryptS),
      "ingest.write_daily_s" -> (writeS - processS),
      "ingest.records_in" -> recordsIn.toDouble,
      "ingest.malformed" -> malformed.toDouble,
      "ingest.landed" -> landed.toDouble,
      "ingest.landed_ratio" -> landed.toDouble / recordsIn,
      "ingest.input_read_amp" -> read.toDouble / w.sourceBytes(d))
  }

  /** Single-thread ns/record of each envelope-chain kernel on a fixed
    * sample of the first date's records, after warm-up.
    */
  def kernels(spark: SparkSession, w: CdiWorkload, tr: Tracer, sample: Int = 2000): Map[String, Double] = {
    val ok = Envelope.parse(spark.read.text(w.sourcePrefix(w.exportDates.head)))
      .filter(!col("malformed")).drop("malformed", "value")
    val rows = w.keys.withDataKeys(ok).select("db_object", "data_key", "iv", "raw_id")
      .limit(sample).collect()
    def u(i: Int) = rows.map(r => UTF8String.fromString(r.getString(i)))
    val (ct, key, iv) = (u(0), u(1), u(2))
    val rawIds = rows.map(_.getString(3))
    val n = rows.length
    val plain = (0 until n).map(i => AesCtr.decryptB64(ct(i), key(i), iv(i)).toString).toArray
    val validated = plain.map(p => UcJson.validate(p)._1)
    val sanitised = validated.map(UcJson.sanitise)

    def nsPerRecord(name: String)(pass: => Long): Double = tr.span(name) {
      var sink = 0L
      for (_ <- 1 to 5) sink += pass
      val samples = mutable.ArrayBuffer.empty[Double]
      val until = now() + 300000000L
      while (samples.size < 5 || now() < until) {
        val t0 = now()
        sink += pass
        samples += (now() - t0).toDouble / n
      }
      blackhole += sink
      median(samples.toSeq)
    }

    Map(
      "functions.aes_decrypt_ns" -> nsPerRecord("functions.AesCtr.decryptB64") {
        var s = 0L; var i = 0
        while (i < n) { s += AesCtr.decryptB64(ct(i), key(i), iv(i)).numBytes(); i += 1 }
        s
      },
      "functions.uc_validate_ns" -> nsPerRecord("functions.UcJson.validate") {
        var s = 0L; var i = 0
        while (i < n) { s += UcJson.validate(plain(i))._1.length; i += 1 }
        s
      },
      "functions.uc_sanitise_ns" -> nsPerRecord("functions.UcJson.sanitise") {
        var s = 0L; var i = 0
        while (i < n) { s += UcJson.sanitise(validated(i)).length; i += 1 }
        s
      },
      "functions.canonicalize_ns" -> nsPerRecord("functions.UcJson.canonicalize") {
        var s = 0L; var i = 0
        while (i < n) { s += UcJson.canonicalize(sanitised(i)).length; i += 1 }
        s
      },
      "functions.id_ns" -> nsPerRecord("functions.UcJson.canonicalId") {
        var s = 0L; var i = 0
        while (i < n) { s += UcJson.idPart(UcJson.canonicalId(rawIds(i))).length; i += 1 }
        s
      })
  }
}

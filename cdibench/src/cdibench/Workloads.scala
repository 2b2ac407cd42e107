package cdibench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup
import graft.pipeline.{InMemoryStatusStore, Ingest, KeyService, Runner, StatusStore}

/** One benchmark workload: a fixed set of operations (dates or operator
  * calls) run from fresh state in every iteration.
  */
trait Workload {
  def name: String
  def opNames: Seq[String]
  /** Input records one iteration consumes. */
  def records: Long
  /** Compressed input bytes one iteration consumes. */
  def inputBytes: Long
  /** One-time set-up: staging inputs the program reads in every iteration. */
  def setup(): Unit
  /** Fresh state for one iteration. */
  def prepare(iter: Int): Unit
  /** Operation `k` of the current iteration. */
  def runOp(k: Int, tr: Tracer): Unit
  /** Names of the stage spans that must cover run_s in a traced iteration. */
  def stageNames: Set[String]
  /** Full iterations set-up runs before the timed section. */
  def warmUps: Int
  /** Bytes of output files created or rewritten since the last call. */
  def newOutputBytes(): Long
  /** Output checks of the iteration just run. */
  def check(): Checks.Failures
  /** Remove the iteration's files. */
  def finish(): Unit
}

object Workload {
  def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(sizeOf).sum else f.length()

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete()
  }

  def readLines(p: Path): Seq[String] =
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq.filter(_.nonEmpty)

  def props(p: Path): Map[String, String] = {
    val pr = new java.util.Properties()
    val in = Files.newInputStream(p)
    try pr.load(in) finally in.close()
    pr.asScala.toMap
  }
}

/** Tracks files under some roots and reports bytes of files that are new
  * or whose size or mtime changed since the previous scan.
  */
final class WriteTracker(roots: => Seq[File]) {
  private val seen = mutable.HashMap.empty[String, (Long, Long)]

  def reset(): Unit = seen.clear()

  def scan(): Long = {
    var bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else if (f.isFile) {
        val now = (f.length(), f.lastModified())
        if (!seen.get(f.getPath).contains(now)) bytes += now._1
        seen.update(f.getPath, now)
      }
    roots.foreach(walk)
    bytes
  }
}

/** The daily CDI run: `Runner(forceCollectionUpdate = true)` over the
  * generated dates, one `runRange` call per date, from a clean output
  * root, staging database and status store. With a prior export in the
  * inputs (cdi_catchup) the status store starts out pointing at it.
  */
final class CdiWorkload(spark: SparkSession, val name: String, inputs: File, work: File)
    extends Workload {
  private val meta = Workload.props(inputs.toPath.resolve("meta.properties"))
  val db: String = meta("db")
  val collection: String = meta("collection")
  private val dataProduct = s"CDI-$db:$collection"
  private val stagingDb = s"${db}_staging"
  val root: String = new File(inputs, "corporate_storage").getPath

  private val dateRows = Workload.readLines(inputs.toPath.resolve("expected/dates.tsv")).map(_.split("\t"))
  val exportDates: Seq[String] = dateRows.map(_(0))
  val expected: Checks.CdiExpected = Checks.CdiExpected(
    exportDates,
    dateRows.map(r => r(0) -> r(1).toLong).toMap,
    dateRows.map(r => r(0) -> r(2).toLong).toMap,
    Workload.readLines(inputs.toPath.resolve("expected/final.tsv")).map { l =>
      val Array(id, m, t) = l.split("\t"); id -> ((m, t))
    }.toMap)

  /** The key service: a lookup of the generated data keys, counting calls. */
  private val dks = Workload.readLines(inputs.toPath.resolve("dks.tsv")).map { l =>
    val Array(enc, plain) = l.split("\t"); enc -> plain
  }.toMap
  val resolveCalls = new AtomicInteger()
  val keys: KeyService = new KeyService(enc => { resolveCalls.incrementAndGet(); dks(enc) })

  private val priorDate = meta.get("prior_export_date")
  private val priorExport = new File(work, s"$name-prior_export")

  def opNames: Seq[String] = exportDates
  def stageNames: Set[String] = CdiWorkload.Stages.values.toSet
  /** A daily run is a fresh JVM that pays its cold start every day, so the
    * first date is timed as it comes.
    */
  val warmUps = 0
  val records: Long = exportDates.map(d => expected.wellFormed(d) + expected.malformed(d)).sum
  private val layout = new Runner(spark, new InMemoryStatusStore)
  /** Source prefix of one export date, as Runner.sourcePrefix lays it out. */
  def sourcePrefix(exportDate: String): String = layout.sourcePrefix(root, exportDate, db, collection)
  def sourceBytes(exportDate: String): Long = Workload.sizeOf(new File(sourcePrefix(exportDate)))
  val inputBytes: Long = exportDates.map(sourceBytes).sum

  private var iterDir: File = _
  private var out: String = _
  private var status: InMemoryStatusStore = _
  private var runner: Runner = _
  private var correlationId: String = _
  private def warehouse = new File(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
  private val tracker = new WriteTracker(Seq(new File(out), new File(warehouse, s"$stagingDb.db")))

  def setup(): Unit = {
    priorDate.foreach { _ =>
      // the previous full export, in the layout Runner.update reads: ORC
      // (id, db_type, val, id_part) partitioned by id_part, one file per
      // id_part (each input part holds whole id_parts); plain Spark
      val schema = StructType(Seq("id", "db_type", "val", "id_part").map(StructField(_, StringType)))
      spark.read.schema(schema).json(new File(inputs, "prior_export").getPath)
        .write.partitionBy("id_part").option("compression", "zlib").mode("overwrite")
        .orc(priorExport.getPath)
    }
  }

  def prepare(iter: Int): Unit = {
    iterDir = new File(work, s"$name-it$iter")
    Workload.delete(iterDir)
    out = new File(iterDir, "out").getPath
    spark.sql(s"DROP DATABASE IF EXISTS $stagingDb CASCADE")
    spark.catalog.clearCache()
    status = new InMemoryStatusStore
    correlationId = s"bench-$iter"
    priorDate.foreach { d =>
      status.updateStatus(correlationId, dataProduct, StatusStore.Completed, d,
        Map("S3_Prefix_CDI_Export" -> priorExport.getPath, "CDI_Export_Date" -> d))
    }
    runner = new Runner(spark, status, keys, correlationId, forceCollectionUpdate = true)
    tracker.reset()
  }

  def runOp(k: Int, tr: Tracer): Unit = {
    val d = exportDates(k)
    tr.sampledSpan("runner.runRange", CdiWorkload.step)(runner.runRange(root, d, d, db, collection, out))
  }

  def newOutputBytes(): Long = tracker.scan()

  def outputs(): Checks.CdiOutputs = {
    val landed = spark.read.parquet(out)
      .groupBy("export_year", "export_month", "export_day").count().collect()
      .map(r => f"${r.getInt(0)}%04d-${r.getInt(1)}%02d-${r.getInt(2)}%02d" -> r.getLong(3)).toMap
    val prefix = status.getExtras(correlationId, dataProduct)("S3_Prefix_CDI_Export")
    val snapshot = spark.read.orc(prefix)
      .select(get_json_object(col("id"), "$.id"), col("db_type"), get_json_object(col("val"), "$.bench_version"))
      .collect().map(r => Checks.SnapRow(r.getString(0), r.getString(1), r.getString(2))).toSeq
    val staging = spark.table(s"$stagingDb.src_${collection.toLowerCase}").count()
    // the lines the program drops: the quarantine side of the same parse
    val dropped = exportDates.map(d => d -> Ingest.malformedLines(spark.read.text(sourcePrefix(d))).count()).toMap
    Checks.CdiOutputs(landed, dropped, snapshot, staging)
  }

  def check(): Checks.Failures = Checks.cdi(expected, outputs())

  def finish(): Unit = Workload.delete(iterDir)
}

object CdiWorkload {
  /** The stages of Runner.runRange's per-date body, by the method that runs each. */
  val Stages: Map[(String, String), String] = Map(
    ("graft.pipeline.Runner", "runDate") -> "runner.runDate",
    ("graft.pipeline.Ingest$", "writeDaily") -> "ingest.writeDaily",
    ("graft.pipeline.Runner", "update") -> "runner.update",
    ("graft.pipeline.Runner", "exportToHive") -> "runner.exportToHive")

  private def inRunRange(f: StackTraceElement): Boolean =
    f.getClassName == "graft.pipeline.Runner" && f.getMethodName.contains("runRange")

  /** The call Runner.runRange is making in a stack: the first graft frame
    * above runRange's own frames and lambdas, named as in [[Stages]] or else
    * `Class.method`; None while runRange runs its own code.
    */
  def step(stack: Array[StackTraceElement]): Option[String] = {
    val outer = stack.lastIndexWhere(f => inRunRange(f) && f.getMethodName == "runRange")
    if (outer < 0) None
    else stack.take(outer).reverseIterator
      .find(f => f.getClassName.startsWith("graft.") && !f.getClassName.contains("$$Lambda") && !inRunRange(f))
      .map { f =>
        Stages.getOrElse((f.getClassName, f.getMethodName),
          s"${f.getClassName.split('.').last.stripSuffix("$")}.${f.getMethodName}")
      }
  }
}

/** The LLM-data dedup operators over a seeded corpus with planted exact
  * and one-word-edit duplicates: dExact, dMinhashLsh and dSimhash, each
  * collected in turn, from a fresh documents.parquet directory.
  */
final class CorpusWorkload(spark: SparkSession, val name: String, inputs: File, work: File)
    extends Workload {
  private val meta = Workload.props(inputs.toPath.resolve("meta.properties"))
  private def ids(file: String): Seq[Seq[Long]] =
    Workload.readLines(inputs.toPath.resolve(file)).map(_.split(",").toSeq.map(_.toLong))
  val expected: Checks.CorpusExpected =
    Checks.CorpusExpected(meta("docs").toInt, ids("expected/exact_groups.tsv"), ids("expected/families.tsv"))

  val opNames: Seq[String] = Seq("dedup.dExact", "dedup.dMinhashLsh", "dedup.dSimhash")
  /** Each operator call with its materialization is one stage span, so
    * coverage here only shows time spent outside those calls.
    */
  def stageNames: Set[String] = opNames.toSet
  /** A cold pass is mostly JIT and code generation (about 10 s against
    * 4 s for the second pass and under 3 s once warm, for 16,000
    * documents), which would hide the operators.
    */
  val warmUps = 1
  val records: Long = expected.docs.toLong
  private val source = new File(work, s"$name-src/documents.parquet")
  def inputBytes: Long = Workload.sizeOf(source)

  private var iterDir: File = _
  private var exact = Seq.empty[(Long, Long)]
  private var minhash = Seq.empty[(Long, Long)]
  private var simhash = Seq.empty[(Long, Long)]
  /** MB of cached blocks still resident after each call returned. */
  val residentMb: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  def setup(): Unit = {
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    spark.read.schema(schema).json(new File(inputs, "corpus").getPath)
      .write.mode("overwrite").parquet(source.getPath)
  }

  def prepare(iter: Int): Unit = {
    iterDir = new File(work, s"$name-it$iter")
    Workload.delete(iterDir)
    val dst = new File(iterDir, "documents.parquet").toPath
    Files.createDirectories(dst)
    source.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).foreach { f =>
      Files.copy(f.toPath, dst.resolve(f.getName), StandardCopyOption.REPLACE_EXISTING)
    }
    spark.catalog.clearCache()
    residentMb.clear()
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  def runOp(k: Int, tr: Tracer): Unit = {
    val d = iterDir.getPath
    tr.span(opNames(k)) {
      k match {
        case 0 => exact = Dedup.dExact(spark, d).select("keeper", "cnt").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSeq
        case 1 => minhash = pairs(Dedup.dMinhashLsh(spark, d))
        case 2 => simhash = pairs(Dedup.dSimhash(spark, d))
      }
    }
    residentMb += spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
  }

  def newOutputBytes(): Long = 0L

  def outputs(): Checks.CorpusOutputs = Checks.CorpusOutputs(exact, minhash, simhash)

  def check(): Checks.Failures = Checks.corpus(expected, outputs())

  def finish(): Unit = Workload.delete(iterDir)
}

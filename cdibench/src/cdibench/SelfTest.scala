package cdibench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Runs one small CDI iteration and one small dedup iteration for real,
  * requires every output check to pass on what they produced, then
  * requires each check to fail once one record is dropped or one value
  * is altered. Returns the process exit code.
  */
object SelfTest {
  def run(spark: SparkSession, cdiInputs: File, corpusInputs: File, work: File): Int = {
    val tr = new Tracer(spark.sparkContext, "selftest", enabled = false)
    var bad = 0
    def expect(what: String, failures: Checks.Failures, shouldFail: Boolean): Unit = {
      val ok = failures.nonEmpty == shouldFail
      if (!ok) bad += 1
      System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what" +
        (if (failures.nonEmpty) s" (${failures.map(_._2).mkString("; ")})" else ""))
    }

    val cdi = new CdiWorkload(spark, "selftest_cdi", cdiInputs, work)
    cdi.setup()
    cdi.prepare(0)
    cdi.opNames.indices.foreach(cdi.runOp(_, tr))
    val o = cdi.outputs()
    val e = cdi.expected
    cdi.finish()
    val d0 = e.dates.head
    val oneLess = o.copy(landed = o.landed.updated(d0, o.landed(d0) - 1))
    val row = o.snapshot.head
    expect("CDI outputs pass every check", Checks.cdi(e, o), shouldFail = false)
    expect("landed check, one daily record dropped", Checks.landed(e, oneLess), shouldFail = true)
    expect("dropped-lines check, one more line rejected",
      Checks.dropped(e, o.copy(dropped = o.dropped.updated(d0, o.dropped(d0) + 1))), shouldFail = true)
    expect("snapshot check, one row dropped", Checks.snapshot(e, o.copy(snapshot = o.snapshot.tail)),
      shouldFail = true)
    expect("snapshot check, one val altered",
      Checks.snapshot(e, o.copy(snapshot = row.copy(marker = row.marker + "x") +: o.snapshot.tail)),
      shouldFail = true)
    expect("snapshot check, one db_type altered",
      Checks.snapshot(e, o.copy(snapshot =
        row.copy(dbType = if (row.dbType == "DELETE") "INSERT" else "DELETE") +: o.snapshot.tail)),
      shouldFail = true)
    expect("staging check, one row dropped", Checks.staging(e, o.copy(staging = o.staging - 1)),
      shouldFail = true)

    val corpus = new CorpusWorkload(spark, "selftest_corpus", corpusInputs, work)
    corpus.setup()
    corpus.prepare(0)
    corpus.opNames.indices.foreach(corpus.runOp(_, tr))
    val c = corpus.outputs()
    val ce = corpus.expected
    corpus.finish()
    val multi = c.exact.filter(_._2 > 1)
    val others = c.exact.filterNot(_._2 > 1)
    val (a, b) = c.minhash.head
    val stranger = (0L until ce.docs.toLong).find(x => x != a && !ce.plantedPairs.contains((math.min(a, x), math.max(a, x)))).get
    val keep = (c.minhash.size * Checks.MinhashRecallFloor).toInt - 1
    expect("dedup outputs pass every check", Checks.corpus(ce, c), shouldFail = false)
    expect("exact-group check, one group dropped", Checks.exactGroups(ce, multi.tail ++ others, 0),
      shouldFail = true)
    expect("exact-group check, one count altered",
      Checks.exactGroups(ce, (multi.head._1, multi.head._2 + 1) +: (multi.tail ++ others), 0), shouldFail = true)
    expect("planted-pair check, one pair altered",
      Checks.onlyPlanted(ce, (a, stranger) +: c.minhash.tail, 1, "dMinhashLsh"), shouldFail = true)
    expect("recall check, pairs dropped below the floor",
      Checks.recallAtLeast(ce, c.minhash.take(keep), Checks.MinhashRecallFloor, 1, "dMinhashLsh"),
      shouldFail = true)
    System.err.println(s"[selftest] ${if (bad == 0) "all checks behave" else s"$bad expectations failed"}")
    if (bad == 0) 0 else 1
  }
}

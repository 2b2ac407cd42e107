package cdibench

/** Output checks as pure functions over collected outputs, so the
  * self-test can show each one failing on a dropped or altered record.
  * Each returns the failures it found as (operation index, message);
  * an empty result means the check passed.
  */
object Checks {

  /** What the generator says one CDI run must produce. */
  final case class CdiExpected(
      dates: Seq[String],
      wellFormed: Map[String, Long],
      malformed: Map[String, Long],
      last: Map[String, (String, String)]) // uuid -> (version marker, db_type)

  /** One snapshot row: (uuid of the id, db_type, version marker in val). */
  final case class SnapRow(uuid: String, dbType: String, marker: String)

  /** What one CDI run produced. */
  final case class CdiOutputs(
      landed: Map[String, Long],    // export date -> rows in its daily partition
      dropped: Map[String, Long],   // export date -> lines the program's parse rejects
      snapshot: Seq[SnapRow],       // the final export
      staging: Long)                // rows in the staging table

  type Failures = Seq[(Int, String)]

  /** Landed rows per date equal the well-formed lines generated. */
  def landed(e: CdiExpected, o: CdiOutputs): Failures =
    e.dates.zipWithIndex.collect {
      case (d, i) if o.landed.getOrElse(d, 0L) != e.wellFormed(d) =>
        i -> s"$d landed ${o.landed.getOrElse(d, 0L)} rows, generated ${e.wellFormed(d)} well-formed lines"
    }

  /** Dropped lines per date equal the planted malformed lines. */
  def dropped(e: CdiExpected, o: CdiOutputs): Failures =
    e.dates.zipWithIndex.collect {
      case (d, i) if o.dropped.getOrElse(d, 0L) != e.malformed(d) =>
        i -> s"$d dropped ${o.dropped.getOrElse(d, 0L)} lines, planted ${e.malformed(d)}"
    }

  /** The final snapshot has exactly one row per id ever written, with
    * the version marker of that id's last write and its delete state.
    */
  def snapshot(e: CdiExpected, o: CdiOutputs): Failures = {
    val last = e.dates.size - 1
    val byId = o.snapshot.groupBy(_.uuid)
    val dups = byId.count(_._2.size > 1)
    val missing = e.last.keySet.count(id => !byId.contains(id))
    val extra = byId.keySet.count(id => !e.last.contains(id))
    val wrong = o.snapshot.count(r => e.last.get(r.uuid).exists(_ != ((r.marker, r.dbType))))
    val msgs = Seq(
      dups -> "ids with more than one snapshot row",
      missing -> "ids missing from the snapshot",
      extra -> "snapshot ids never generated",
      wrong -> "snapshot rows with a stale version or wrong db_type")
    msgs.collect { case (n, m) if n > 0 => last -> s"$n $m" }
  }

  /** The staging table holds as many rows as the snapshot. */
  def staging(e: CdiExpected, o: CdiOutputs): Failures =
    if (o.staging == o.snapshot.size) Nil
    else Seq((e.dates.size - 1) -> s"staging has ${o.staging} rows, snapshot ${o.snapshot.size}")

  def cdi(e: CdiExpected, o: CdiOutputs): Failures =
    landed(e, o) ++ dropped(e, o) ++ snapshot(e, o) ++ staging(e, o)

  /** What the generator planted in a corpus. */
  final case class CorpusExpected(
      docs: Int,
      exactGroups: Seq[Seq[Long]], // doc ids sharing one text, groups of two or more
      families: Seq[Seq[Long]])    // base + copies + one-word edits, two or more
  {
    /** Every unordered pair inside a family, smaller id first. */
    lazy val plantedPairs: Set[(Long, Long)] =
      families.iterator.flatMap { f =>
        val s = f.sorted
        for (i <- s.indices.iterator; j <- (i + 1 until s.size).iterator) yield (s(i), s(j))
      }.toSet

    /** (keeper, count) of every Dedup.dExact group with a count above one.
      * dExact dedups documents ∪ a re-inserted copy of every doc whose
      * id is divisible by 7 (Dedup.corpusWithExactDups), so a text's
      * count is its docs plus their re-inserted copies.
      */
    lazy val exactExpected: Set[(Long, Long)] = {
      val grouped = exactGroups.flatten.toSet
      val groups = exactGroups ++ (0L until docs.toLong).filterNot(grouped).map(Seq(_))
      groups.map(g => (g.min, g.size.toLong + g.count(_ % 7 == 0)))
        .filter(_._2 > 1).toSet
    }
  }

  /** Lowest accepted share of planted pairs found, per operator. */
  val MinhashRecallFloor = 0.99
  val SimhashRecallFloor = 0.80

  /** dExact's groups (count above one) equal the planted groups. */
  def exactGroups(e: CorpusExpected, got: Seq[(Long, Long)], op: Int): Failures = {
    val multi = got.filter(_._2 > 1)
    val set = multi.toSet
    val msgs = Seq(
      (multi.size - set.size) -> "duplicate exact groups",
      (e.exactExpected -- set).size -> "planted exact groups missing",
      (set -- e.exactExpected).size -> "exact groups never planted")
    msgs.collect { case (n, m) if n > 0 => op -> s"$n $m" }
  }

  /** Every reported near-duplicate pair is a planted pair. */
  def onlyPlanted(e: CorpusExpected, pairs: Seq[(Long, Long)], op: Int, what: String): Failures = {
    val bad = pairs.count { case (a, b) => !e.plantedPairs.contains((math.min(a, b), math.max(a, b))) }
    if (bad == 0) Nil else Seq(op -> s"$what reported $bad pairs that were not planted")
  }

  def recall(e: CorpusExpected, pairs: Seq[(Long, Long)]): Double = {
    val found = pairs.iterator.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e.plantedPairs.contains).toSet.size
    if (e.plantedPairs.isEmpty) 1.0 else found.toDouble / e.plantedPairs.size
  }

  /** The share of planted pairs found is at or above the floor. */
  def recallAtLeast(e: CorpusExpected, pairs: Seq[(Long, Long)], floor: Double, op: Int,
      what: String): Failures = {
    val r = recall(e, pairs)
    if (r >= floor) Nil else Seq(op -> f"$what recall $r%.4f is below the floor $floor%.2f")
  }

  /** Collected outputs of the three dedup calls. */
  final case class CorpusOutputs(exact: Seq[(Long, Long)], minhash: Seq[(Long, Long)],
      simhash: Seq[(Long, Long)])

  def corpus(e: CorpusExpected, o: CorpusOutputs): Failures =
    exactGroups(e, o.exact, 0) ++
      onlyPlanted(e, o.minhash, 1, "dMinhashLsh") ++
      recallAtLeast(e, o.minhash, MinhashRecallFloor, 1, "dMinhashLsh") ++
      onlyPlanted(e, o.simhash, 2, "dSimhash") ++
      recallAtLeast(e, o.simhash, SimhashRecallFloor, 2, "dSimhash")
}

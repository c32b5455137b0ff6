package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generation. Every input is a pure function of the seed
  * (and of the op index for per-op inputs), written as text files, so the
  * same seed gives byte-identical inputs. */
object Gen {
  /** An independent stream per (seed, purpose, index). */
  def rng(seed: Long, purpose: String, i: Long = 0L): SplittableRandom = {
    var h = seed * 0x9E3779B97F4A7C15L ^ purpose.hashCode.toLong * 0xBF58476D1CE4E5B9L ^
      i * 0x94D049BB133111EBL
    h ^= h >>> 31
    new SplittableRandom(h)
  }

  def hex(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    (0 until n).foreach(_ => sb.append("0123456789abcdef".charAt(r.nextInt(16))))
    sb.toString
  }

  /** Writes lines; returns the bytes written. */
  def writeLines(f: File, lines: Iterator[String]): Long = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), "UTF-8"))
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    f.length
  }

  /** Seeded Fisher-Yates shuffle. */
  def shuffle[T](xs: IndexedSeq[T], r: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  /** Picks k distinct elements. */
  def sample[T](xs: IndexedSeq[T], k: Int, r: SplittableRandom): IndexedSeq[T] = {
    val chosen = mutable.LinkedHashSet[Int]()
    val n = xs.size
    while (chosen.size < math.min(k, n)) chosen += r.nextInt(n)
    chosen.toIndexedSeq.map(xs)
  }
}

/** Ground truth of one ETL batch, as the generator planned it. */
final case class BatchPlan(
    enrDocs: Int, enrNew: Int, enrRevised: Int, enrResent: Int, enrBad: Int,
    paDocs: Int, paNew: Int, paRevised: Int, paResent: Int, paBad: Int) {
  def docs: Int = enrDocs + paDocs
  def quarantined: Int = enrBad + paBad
  // encounter merge: one row per enrollment document
  def encCreated: Int = enrNew
  def encUpdated: Int = enrRevised
  def encUnchanged: Int = enrResent
  // presence-absence merge: four targets per sample, a revision flips one
  def paCreated: Int = 4 * paNew
  def paUpdated: Int = paRevised
  def paUnchanged: Int = 3 * paRevised + 4 * paResent
}

/** The id3c-shaped document model: enrollments (one encounter, one
  * ClinicSwab sample barcode each) and Samplify presence-absence documents
  * (one sample, four target results each). Barcodes are tiny-swab
  * collection barcodes, so presence-absence results resolve samples by
  * collection identifier. */
final class DocModel(seed: Long, maxEncounters: Int) {
  val tag: String = s"s$seed"
  val nIndividuals: Int = math.max(50, maxEncounters / 3)
  val nSites = 40
  val SetName = "collections-scan-tiny-swabs"
  val Targets: Seq[String] = Seq("Flu_A", "Flu_B", "RSV", "RNaseP")

  /** Unique 8-hex barcodes and uuids, one per encounter index. */
  val (barcodes, uuids): (Array[String], Array[String]) = {
    val r = Gen.rng(seed, "barcodes")
    val seen = mutable.HashSet[String]()
    val bc = Array.fill(maxEncounters) {
      var c = Gen.hex(r, 8)
      while (!seen.add(c)) c = Gen.hex(r, 8)
      c
    }
    val uu = bc.map(c => s"${Gen.hex(r, 8)}-${Gen.hex(r, 4)}-4${Gen.hex(r, 3)}-" +
      s"a${Gen.hex(r, 3)}-${Gen.hex(r, 4)}$c")
    (bc, uu)
  }

  def identifierLines: Iterator[String] = barcodes.indices.iterator.map(e =>
    s"""{"barcode":"${barcodes(e)}","uuid":"${uuids(e)}","set_name":"$SetName"}""")

  def encounterId(e: Int): String = s"enc-$tag-$e"

  def enrollment(e: Int, rev: Int): String = {
    val r = Gen.rng(seed, "encounter", e)
    val ind = r.nextInt(nIndividuals)
    val site = r.nextInt(nSites)
    val sexIx = Gen.rng(seed, "individual", ind).nextInt(3)
    val month = 1 + r.nextInt(12); val day = 1 + r.nextInt(28)
    val hour = r.nextInt(24); val minute = r.nextInt(60)
    val age = 1 + r.nextInt(80) + rev
    val lang = Seq("en", "es", "vi", "zh")((r.nextInt(4) + rev) % 4)
    val use = Seq("home", "work", "temp")(r.nextInt(3))
    val siteType = if (site % 3 == 0) "kiosk" else "clinic"
    f"""{"schemaVersion":"1.1.0","id":"${encounterId(e)}","participant":"ind-$tag-$ind",""" +
      f""""startTimestamp":"2019-$month%02d-$day%02dT$hour%02d:$minute%02d:00Z",""" +
      s""""localeLanguageCode":"$lang","site":{"name":"site-$site","type":"$siteType"},""" +
      s""""age":{"value":"$age","ninetyOrAbove":false},""" +
      s""""sampleCodes":[{"code":"${barcodes(e)}","type":"ClinicSwab"}],""" +
      s""""locations":[{"use":"$use","id":"loc-$tag-$e","region":"tract-${e % 97}"}],""" +
      s""""responses":[{"question":{"token":"AssignedSex"},"options":""" +
      s"""[{"token":"male"},{"token":"female"},{"token":"other"}],""" +
      s""""answer":{"type":"Option","chosenOptions":[$sexIx]}}]}"""
  }

  /** An enrollment whose schema version the ETL does not know. */
  def badEnrollment(key: String): String =
    s"""{"schemaVersion":"9.9.9","id":"bad-$tag-$key","participant":"ind-x"}"""

  def samplify(e: Int, rev: Int): String = {
    val r = Gen.rng(seed, "samplify", e)
    val base = Targets.map(_ => r.nextInt(2))
    val results = Targets.zipWithIndex.map { case (t, k) =>
      val detected = if (k == 0) (base(k) + rev) % 2 == 0 else base(k) == 0
      val control = if (t == "RNaseP") "PositiveControl" else "NotControl"
      s"""{"geneTarget":"$t","targetStatus":"${if (detected) "Detected" else "NotDetected"}",""" +
        s""""controlStatus":"$control"}"""
    }
    s"""{"samples":[{"sampleId":"NW-$tag-$e","investigatorId":"${barcodes(e)}",""" +
      s""""sampleFailed":false,"isCurrentExpressionResult":true,"chip":"chip-${e % 3}",""" +
      s""""assayName":"OpenArray","assayDate":"2019-06-01",""" +
      s""""targetResults":[${results.mkString(",")}]}]}"""
  }

  /** Old-format (skipped) or sample-less (error) presence-absence documents. */
  def badSamplify(k: Int): String =
    if (k % 2 == 0) s"""{"store":"legacy-$tag","Update":"$k"}""" else s"""{"other":$k}"""
}

/** Plans the ETL batches: which encounters are new, revised, re-sent or
  * malformed in each batch, tracking the current revision of every
  * document so the expected merge outcome is known exactly. */
final class EtlPlanner(seed: Long, val model: DocModel, newShare: Double,
    revisedShare: Double, resentShare: Double) {
  private var nextEncounter = 0
  private val encRev = mutable.ArrayBuffer[Int]()
  private val paRev = mutable.HashMap[Int, Int]()
  private val awaitingPa = mutable.Queue[Int]()
  private val withPa = mutable.ArrayBuffer[Int]()

  def encounters: Int = nextEncounter
  def samplesWithResults: Int = withPa.size

  private def split(n: Int): (Int, Int, Int, Int) = {
    val nNew = math.round(n * newShare).toInt
    val nRev = math.round(n * revisedShare).toInt
    val nRes = math.round(n * resentShare).toInt
    (nNew, nRev, nRes, n - nNew - nRev - nRes)
  }

  /** Writes one batch's two NDJSON files and returns its plan. `bulk`
    * batches hold new documents only. */
  def batch(key: Long, enrN: Int, paN: Int, enrFile: File, paFile: File,
      bulk: Boolean): (BatchPlan, Long) = {
    val r = Gen.rng(seed, "batch", key)
    val (eNew, eRev, eRes, eBad) = if (bulk) (enrN, 0, 0, 0) else split(enrN)
    require(nextEncounter + eNew <= model.barcodes.length, "encounter plan exhausted")
    val fresh = (nextEncounter until nextEncounter + eNew)
    fresh.foreach { _ => encRev += 0 }
    val old = Gen.sample((0 until nextEncounter), eRev + eRes, r)
    val revised = old.take(eRev); val resent = old.drop(eRev)
    revised.foreach(e => encRev(e) += 1)
    nextEncounter += eNew
    val enrDocs = fresh.map(e => model.enrollment(e, 0)) ++
      revised.map(e => model.enrollment(e, encRev(e))) ++
      resent.map(e => model.enrollment(e, encRev(e))) ++
      (0 until eBad).map(k => model.badEnrollment(s"$key-$k"))

    // presence-absence: results for enrolled samples, oldest first (the
    // enrollment half of a cycle runs first, so this batch's samples exist)
    fresh.foreach(awaitingPa.enqueue(_))
    val (pNew0, pRev, pRes, pBad) = if (bulk) (paN, 0, 0, 0) else split(paN)
    val pNew = math.min(pNew0, awaitingPa.size)
    val paFresh = (0 until pNew).map(_ => awaitingPa.dequeue())
    val paOld = Gen.sample(withPa.toIndexedSeq, pRev + pRes, r)
    val paRevised = paOld.take(pRev); val paResent = paOld.drop(pRev)
    paRevised.foreach(e => paRev(e) += 1)
    paFresh.foreach { e => paRev(e) = 0; withPa += e }
    val paDocs = paFresh.map(e => model.samplify(e, 0)) ++
      paRevised.map(e => model.samplify(e, paRev(e))) ++
      paResent.map(e => model.samplify(e, paRev(e))) ++
      (0 until pBad).map(k => model.badSamplify(k))

    val bytes = Gen.writeLines(enrFile, Gen.shuffle(enrDocs.toIndexedSeq, r).iterator) +
      Gen.writeLines(paFile, Gen.shuffle(paDocs.toIndexedSeq, r).iterator)
    (BatchPlan(enrDocs.size, eNew, eRev, eRes, eBad,
      paDocs.size, pNew, pRev, pRes, pBad), bytes)
  }
}

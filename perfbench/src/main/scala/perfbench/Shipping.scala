package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.shipping.Views

/** shipping_read: consumer reads of a warehouse that the ETL wrote and
  * that does not change during the run. Ops come in decks: every view
  * once, in a seeded order, each view read followed by barcode point
  * lookups shaped like `Cli.getSample`. */
final class ShippingRead(spark: SparkSession, cfg: Cfg) extends Workload {
  val lookupsPerView: Int = cfg.int("lookups_per_view")
  val missShare: Double = cfg.dbl("lookup_miss_share")
  val deck: Int = Catalog.views.size * (1 + lookupsPerView)
  // the set-up check reads every view once and probes the lookup path, so
  // the timed phase starts warm
  val warmupOps: Int = 0

  private val loader = new EtlIncremental(spark, cfg)
  private def db = loader.db
  /** Expected (rows, checksum) per view, fixed at setup. */
  private var expected: Map[String, (Long, Long)] = Map.empty
  private var expectedRows: Map[String, Long] = Map.empty
  private var enrolled = 0
  private var paSamples = 0

  /** The rows of a view and an order-independent checksum over all columns. */
  private def digestSql(view: String, cols: Seq[String]): String =
    s"SELECT count(*), sum(pmod(xxhash64(${cols.map(c => s"`$c`").mkString(", ")}), " +
      s"1000000007)) FROM shipping_$view"

  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(df.columns.map(col): _*),
      lit(1000000007L)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** The views, built over the warehouse snapshot and registered under
    * `shipping_*` names. pa_v1, pa_v2 and observation_pa are read through
    * `spark.sql`, the rest through the DataFrame API. */
  private var frames: Map[String, DataFrame] = Map.empty
  private val viaSql = Set("pa_v1", "pa_v2", "observation_pa")

  private var tracer: Tracer = _

  /** Checks the bulk load, fixes the expected checksum of every view and
    * probes one hit and one miss; this also warms every read path. */
  override def setupCheck(): Option[String] = loader.setupCheck().orElse {
    expected = frames.keys.map(v => v -> read(v)).toMap
    Catalog.views.find(v => expected(v)._1 != expectedRows(v)).map(v =>
      s"$v has ${expected(v)._1} rows, expected ${expectedRows(v)}")
  }.orElse {
    Seq(new LookupOp(loader.planner.model.barcodes(0), Some(loader.planner.model.uuids(0))),
        new LookupOp("g0000000", None))
      .flatMap { l => l.run(tracer); l.check() }.headOption
  }

  def setup(dir: String, t: Tracer): Unit = {
    tracer = t
    loader.setup(dir, t)
    enrolled = loader.planner.encounters
    paSamples = loader.planner.samplesWithResults
    db.identifiers.write.parquet(db.path("identifier"))
    val sample = db.read("sample"); val pa = db.read("presence_absence")
    val target = db.read("target")
    val paV1 = Views.presenceAbsenceResultV1(sample, pa, target)
    val incidence = Views.incidenceModelObservation(db.read("encounter")
        .select("encounter_id", "site_id", "individual_id", "encountered", "age_months"),
      db.read("individual"), db.read("site"), sample, db.dimension("age_bin_fine"),
      db.dimension("age_bin_coarse"))
    frames = Map(
      "pa_v1" -> paV1,
      "pa_v2" -> Views.presenceAbsenceResultV2(sample, pa, target, db.dimension("organism")),
      "incidence" -> incidence,
      "primary_location" -> Views.primaryEncounterLocation(
        db.read("encounter_location"), db.dimension("relations")),
      "observation_pa" -> Views.observationWithPresenceAbsence(incidence, paV1),
      "sample_visible" -> Views.sampleVisibleTo(sample, Seq("role_a")))
    frames.foreach { case (name, df) => Views.register(spark, name, df) }
    // row counts from the generator's plan: 3 reported targets per sample
    // with results, one row per encounter, and sample ids 1..n of which
    // the ones with id % 3 == 2 belong to role_b only
    expectedRows = Map("pa_v1" -> 3L * paSamples, "pa_v2" -> 3L * paSamples,
      "incidence" -> enrolled.toLong, "primary_location" -> enrolled.toLong,
      "observation_pa" -> 3L * paSamples,
      "sample_visible" -> (1 to enrolled).count(_ % 3 != 2).toLong)
  }

  private def read(view: String): (Long, Long) =
    if (viaSql(view)) {
      val r = spark.sql(digestSql(view, frames(view).columns.toSeq)).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    } else digest(frames(view))

  final class ViewOp(view: String) extends Op(s"view:$view") {
    var got: (Long, Long) = _
    def run(t: Tracer): Unit = { got = t.span(s"shipping.view.$view") { read(view) } }
    override def items: Double = got._1
    def check(): Option[String] =
      if (got._1 != expectedRows(view))
        Some(s"$view returned ${got._1} rows, expected ${expectedRows(view)}")
      else if (got != expected(view)) Some(s"$view checksum $got, expected ${expected(view)}")
      else None
  }

  final class LookupOp(barcode: String, hit: Option[String]) extends Op("lookup") {
    var rows: Seq[String] = Nil
    def run(t: Tracer): Unit = {
      rows = t.span("shipping.lookup") {
        graft.Cli.getSample(spark, db.path("identifier"), db.path("sample"), barcode,
          byCollection = true)
      }
    }
    def check(): Option[String] = hit match {
      case Some(uuid) if rows.size != 1 || !rows.head.contains(uuid) =>
        Some(s"lookup $barcode returned ${rows.size} rows, expected the sample of $uuid")
      case None if rows.nonEmpty => Some(s"lookup of unknown $barcode returned ${rows.size} rows")
      case _ => None
    }
  }

  def op(i: Int): Option[Op] = {
    val d = i / deck; val pos = i % deck
    val order = Gen.shuffle(Catalog.views.toIndexedSeq, Gen.rng(cfg.seed, "deck", d))
    if (pos % (1 + lookupsPerView) == 0) Some(new ViewOp(order(pos / (1 + lookupsPerView))))
    else {
      val r = Gen.rng(cfg.seed, "lookup", i)
      if (r.nextDouble() < missShare) {
        // 8 hex digits with a "g": never a minted barcode
        Some(new LookupOp("g" + Gen.hex(r, 7), None))
      } else {
        val e = r.nextInt(enrolled)
        Some(new LookupOp(loader.planner.model.barcodes(e),
          Some(loader.planner.model.uuids(e))))
      }
    }
  }

  override def unit(i: Int): Int = i / deck
  def isMain(kind: String): Boolean = kind == "lookup"
  def isHeavy(kind: String): Boolean = kind.startsWith("view:")

  override def figures(untraced: Seq[OpRec]): Seq[(String, M)] = {
    val reads = untraced.filter(_.kind.startsWith("view:")).map(_.seconds)
    val looks = untraced.filter(_.kind == "lookup").map(_.seconds * 1000)
    Seq("shipping.read_p50_s" -> M(Stats.median(reads), "s"),
      "shipping.lookup_p50_ms" -> M(Stats.median(looks), "ms"),
      "shipping.lookup_tail_ms" -> M(Stats.tail("shipping.lookup_tail_ms", looks), "ms"))
  }

  def layers(traced: Seq[OpRec], t: Tracer): Seq[(String, M)] = {
    val reads = traced.filter(_.kind.startsWith("view:"))
    val looks = traced.filter(_.kind == "lookup")
    val perView = Catalog.views.map { v =>
      s"shipping.view_s.$v" -> M(Stats.median(
        reads.filter(_.kind == s"view:$v").map(_.seconds)), "s")
    }
    val scans = Catalog.views.map(v => SparkLayer.layerStats(t, reads, s"shipping.view.$v"))
    val rowsOut = reads.map(_.items).sum
    val lookupScan = SparkLayer.layerStats(t, looks, "shipping.lookup")
    perView ++ Seq(
      "shipping.bytes_scanned_per_read" -> M(scans.map(_.inputBytes).sum.toDouble / reads.size, "bytes"),
      "shipping.rows_scanned_per_row_out" -> M(scans.map(_.inputRecords).sum / rowsOut, "ratio"),
      "shipping.lookup_rows_scanned" -> M(lookupScan.inputRecords.toDouble / looks.size, "count"))
  }

  def describe: Map[String, Any] = Map("encounters" -> enrolled,
    "samples_with_results" -> paSamples, "views" -> Catalog.views,
    "lookups_per_view" -> lookupsPerView, "lookup_miss_share" -> missShare)
}

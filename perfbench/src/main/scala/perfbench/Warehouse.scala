package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.Feeds
import graft.operators.{Merge, Receiving}

/** Merge counts of one cycle, as the merge layer reported them. */
final case class MergeCounts(created: Long, updated: Long, unchanged: Long) {
  def +(o: MergeCounts): MergeCounts =
    MergeCounts(created + o.created, updated + o.updated, unchanged + o.unchanged)
}

/** A receiving → warehouse database in parquet snapshot directories,
  * advanced by ETL cycles made only of library calls: `Cli.receive`,
  * `Receiving.unprocessed`, `Feeds.Enrollments` / `Feeds.Samplify`
  * `decompose`, `Merge.mergeClassify` / `Merge.merge`,
  * `Etl.upsertSamples`, `Receiving.markProcessed` / `markSkipped` and
  * `Receiving.snapshotSwap` — the copy-on-write path of `Cli.etlFhir`. */
final class WarehouseDb(spark: SparkSession, val dir: String, model: DocModel) {
  val EnrEtl = Feeds.Enrollments.EtlName
  val EnrRevision = 1
  val PaEtl = "presence-absence"
  val PaRevision: Int = Feeds.Samplify.Revision

  def path(t: String): String = s"$dir/wh/$t"
  /** A warehouse table; before its first snapshot, the empty table. */
  def read(t: String): DataFrame =
    if (new File(path(t)).exists) spark.read.parquet(path(t))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType.fromDDL(Schemas(t)))
  val identifiersPath = s"$dir/inputs/identifiers.ndjson"
  private val identSchema = StructType(Seq(StructField("barcode", StringType),
    StructField("uuid", StringType), StructField("set_name", StringType)))
  def identifiers: DataFrame = spark.read.schema(identSchema).json(identifiersPath)

  val Schemas: Map[String, String] = Map(
    "encounter" -> ("identifier STRING, encountered TIMESTAMP, " +
      "individual_identifier STRING, sex STRING, site_identifier STRING, " +
      "site_type STRING, age STRING, language STRING, encounter_id BIGINT, " +
      "individual_id BIGINT, site_id BIGINT, age_months INT"),
    "site" -> "identifier STRING, site_type STRING, site_id BIGINT, details STRING",
    "individual" -> "identifier STRING, sex STRING, individual_id BIGINT",
    "sample" -> ("sample_id BIGINT, identifier STRING, collection_identifier STRING, " +
      "details STRING, encounter_id BIGINT, access_role STRING"),
    "encounter_location" -> ("encounter_identifier STRING, relation STRING, " +
      "location_identifier STRING, tract STRING, encounter_id BIGINT"),
    "presence_absence" -> ("identifier STRING, sample_id BIGINT, target_id BIGINT, " +
      "present BOOLEAN, details STRING"),
    "target" -> "identifier STRING, control BOOLEAN, target_id BIGINT, organism_id BIGINT")

  /** The identifier table, the only input besides the document batches. */
  def create(): Unit = Gen.writeLines(new File(identifiersPath), model.identifierLines)

  /** Static dimensions of the shipping views. */
  def dimension(t: String): DataFrame = {
    import spark.implicits._
    t match {
      case "organism" => Seq((0L, "Influenza.A"), (1L, "Influenza.B"), (2L, "RSV"),
        (3L, "Human")).toDF("organism_id", "lineage")
      case "relations" => Seq(("residence", 1), ("lodging", 2), ("workplace", 3))
        .toDF("relation", "priority")
      case "age_bin_coarse" => Seq((0, 60, "0-4"), (60, 216, "5-17"), (216, 780, "18-64"),
        (780, 2000, "65+")).toDF("lo", "hi", "label")
      case "age_bin_fine" => (0 until 20).map(k => (k * 60, (k + 1) * 60,
        s"${k * 5}-${k * 5 + 4}")).toDF("lo", "hi", "label")
    }
  }

  private def id(c: Column): Column = xxhash64(c)

  private def classifyAndSwap(name: String, cur: DataFrame, upd: DataFrame,
      keys: Seq[String], extra: DataFrame => DataFrame): MergeCounts = {
    val compare = upd.columns.toSeq.filterNot(keys.contains)
    val obs = Observation(s"merge_$name")
    val a = col(Merge.ActionCol)
    val classified = Merge.mergeClassify(cur.select((keys ++ compare).map(col): _*),
        upd, keys, compare)
      .observe(obs, count(when(a === Merge.Created, 1)).as("c"),
        count(when(a === Merge.Updated, 1)).as("u"),
        count(when(a === Merge.Unchanged, 1)).as("n"))
    Receiving.snapshotSwap(extra(classified.drop(Merge.ActionCol)), path(name))
    val m = scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(60, "s"))
    MergeCounts(m.getLong(0), m.getLong(1), m.getLong(2))
  }

  private def mergeSwap(name: String, upd: DataFrame, keys: Seq[String],
      extra: DataFrame => DataFrame): Unit = {
    val compare = upd.columns.toSeq.filterNot(keys.contains)
    val cur = read(name).select((keys ++ compare).map(col): _*)
    Receiving.snapshotSwap(extra(Merge.merge(cur, upd, keys, compare)), path(name))
  }

  /** Appends a batch to a feed, then marks its pending rows: the
    * receive half of a cycle. Returns the feed and its pending rows. */
  private def receive(t: Tracer, feed: String, ndjson: String, etl: String,
      revision: Int): (DataFrame, DataFrame) = {
    t.span("receiving.read") { graft.Cli.receive(spark, path(feed), ndjson) }
    val all = spark.read.parquet(path(feed))
    val pending = t.span("receiving.unprocessed") {
      t.boundary(Receiving.unprocessed(all, etl, revision)) }
    (all, pending)
  }

  private def mark(t: Tracer, feed: String, all: DataFrame, statuses: DataFrame,
      etl: String, revision: Int): Unit = t.span("receiving.swap") {
    val ok = statuses.filter(col("status") === "processed").select("id")
    val bad = statuses.filter(col("status") =!= "processed").select("id")
    Receiving.snapshotSwap(Receiving.markSkipped(
      Receiving.markProcessed(all, ok, etl, revision), bad, etl, revision), path(feed))
  }

  /** One ETL cycle over an enrollments batch and a presence-absence batch. */
  def cycle(t: Tracer, enrFile: String, paFile: String): MergeCounts = {
    // ---- enrollments
    val (enrAll, enrPending) = receive(t, "receiving_enrollments", enrFile, EnrEtl, EnrRevision)
    val d = t.span("etl.decompose") {
      val d = Feeds.Enrollments.decompose(enrPending, identifiers)
      d.copy(statuses = t.boundary(d.statuses), encounters = t.boundary(d.encounters),
        sampleUpdates = t.boundary(d.sampleUpdates))
    }
    val encCounts = t.span("merge.upsert") {
      val enc = d.encounters.drop("id")
      val counts = classifyAndSwap("encounter", read("encounter"), enc, Seq("identifier"),
        _.withColumn("encounter_id", id(col("identifier")))
          .withColumn("individual_id", id(col("individual_identifier")))
          .withColumn("site_id", id(col("site_identifier")))
          .withColumn("age_months",
            (split(col("age"), " ").getItem(0).cast("double") * 12).cast("int")))
      mergeSwap("site", d.sites, Seq("identifier"),
        _.withColumn("site_id", id(col("identifier")))
          .withColumn("details", to_json(struct(col("site_type").as("type")))))
      mergeSwap("individual", d.individuals, Seq("identifier"),
        _.withColumn("individual_id", id(col("identifier"))))
      mergeSwap("encounter_location", d.encounterLocations,
        Seq("encounter_identifier", "relation"),
        _.withColumn("encounter_id", id(col("encounter_identifier"))))
      // sample details carry the encounter and the age reported with it, so
      // a revised enrollment needs a jsonb merge of the stored details; a
      // tiny-swab sample's identifier is its collection identifier
      val upd = d.sampleUpdates.join(
          enc.select(col("identifier").as("encounter_identifier"), col("age")),
          Seq("encounter_identifier"), "left")
        .select(col("collection_identifier").as("identifier"), col("collection_identifier"),
          to_json(struct(col("encounter_identifier").as("encounter"),
            col("sample_type"), col("age"))).as("details"))
      val cur = read("sample").select("sample_id", "identifier",
        "collection_identifier", "details")
      val upserted = graft.etl.Etl.upsertSamples(cur, upd).drop("ambiguous")
      val next = cur.join(upserted.select("sample_id"), Seq("sample_id"), "left_anti")
        .unionByName(upserted)
        .withColumn("encounter_id", id(get_json_object(col("details"), "$.encounter")))
        .withColumn("access_role", element_at(
          array(lit(null).cast("string"), lit("role_a"), lit("role_b")),
          (pmod(col("sample_id"), lit(3L)) + 1).cast("int")))
      Receiving.snapshotSwap(next, path("sample"))
      counts
    }
    mark(t, "receiving_enrollments", enrAll, d.statuses, EnrEtl, EnrRevision)

    // ---- presence-absence
    val (paAll, paPending) = receive(t, "receiving_presence_absence", paFile, PaEtl, PaRevision)
    val samples = read("sample")
    val p = t.span("etl.decompose") {
      val p = Feeds.Samplify.decompose(paPending, identifiers,
        samples.select("identifier", "collection_identifier"))
      p.copy(statuses = t.boundary(p.statuses),
        presenceAbsence = t.boundary(p.presenceAbsence))
    }
    val paCounts = t.span("merge.upsert") {
      val pa = p.presenceAbsence
        .join(samples.select(col("collection_identifier").as("sample_uuid"),
          col("sample_id")), Seq("sample_uuid"))
        .select(col("identifier"), col("sample_id"), id(col("target")).as("target_id"),
          col("present"), to_json(struct(col("device"))).as("details"))
      val counts = classifyAndSwap("presence_absence", read("presence_absence"), pa,
        Seq("identifier"), identity)
      mergeSwap("target", p.targets, Seq("identifier"),
        _.withColumn("target_id", id(col("identifier")))
          .withColumn("organism_id", when(col("identifier") === "RNaseP", 3L)
            .when(col("identifier") === "Flu_A", 0L).when(col("identifier") === "Flu_B", 1L)
            .otherwise(2L)))
      counts
    }
    mark(t, "receiving_presence_absence", paAll, p.statuses, PaEtl, PaRevision)
    encCounts + paCounts
  }

  /** One scan of a feed: per-status counts of its ETL's processing_log
    * entries on rows with id > `afterId`, the number of rows whose log has
    * other than exactly one entry for the ETL, and the highest id. */
  def logAudit(feed: String, etl: String, afterId: Long): (Map[String, Long], Long, Long) = {
    val mine = filter(col("processing_log"), e => e.getField("etl") === etl)
    val fresh = col("id") > afterId
    def status(s: String) =
      sum(when(fresh, size(filter(mine, e => e.getField("status") === s))).otherwise(0))
    val r = read(feed).agg(status("processed"), status("skipped"),
      count(when(size(mine) =!= 1, 1)), max("id")).head()
    (Map("processed" -> r.getLong(0), "skipped" -> r.getLong(1)), r.getLong(2), r.getLong(3))
  }
}

/** etl_incremental: small frequent ETL cycles against a bulk-loaded
  * warehouse. */
final class EtlIncremental(spark: SparkSession, cfg: Cfg) extends Workload {
  val bulkDocs: Int = cfg.int("bulk_enrollments")
  val batchDocs: Int = cfg.int("batch_enrollments")
  val paBatchDocs: Int = cfg.int("batch_presence_absence")
  val maxCycles: Int = cfg.int("max_cycles")
  val warmupOps: Int = cfg.int("warmup_cycles")

  var db: WarehouseDb = _
  var planner: EtlPlanner = _
  var inputBytes = 0L
  var lastIds: Map[String, Long] = Map.empty

  def newPlanner(): EtlPlanner = {
    val maxEnc = bulkDocs + (maxCycles + warmupOps + 1) * batchDocs
    new EtlPlanner(cfg.seed, new DocModel(cfg.seed, maxEnc), cfg.dbl("new_share"),
      cfg.dbl("revised_share"), cfg.dbl("resent_share"))
  }

  private var bulk: CycleOp = _

  /** Generates the inputs and bulk-loads the warehouse through one ETL
    * cycle of new documents only. */
  def setup(dir: String, t: Tracer): Unit = {
    planner = newPlanner()
    db = new WarehouseDb(spark, dir, planner.model)
    db.create()
    lastIds = Map("receiving_enrollments" -> 0L, "receiving_presence_absence" -> 0L)
    bulk = new CycleOp(-1, bulk = true)
    bulk.prepare()
    bulk.run(t)
    inputBytes = bulk.bytes
  }

  override def setupCheck(): Option[String] = bulk.check().map(e => s"bulk load: $e")

  final class CycleOp(i: Int, bulk: Boolean) extends Op("cycle") {
    var plan: BatchPlan = _
    var bytes = 0L
    var counts: MergeCounts = _
    /** processing_log entries of this batch: (processed, skipped). */
    var logged = (0L, 0L)
    val enr = s"${db.dir}/inputs/enrollments_$i.ndjson"
    val pa = s"${db.dir}/inputs/presence_absence_$i.ndjson"
    override def prepare(): Unit = {
      val (p, b) = if (bulk) planner.batch(i, bulkDocs, bulkDocs, new File(enr), new File(pa), bulk = true)
        else planner.batch(i, batchDocs, paBatchDocs, new File(enr), new File(pa), bulk = false)
      plan = p; bytes = b
    }
    def run(t: Tracer): Unit = { counts = db.cycle(t, enr, pa) }
    override def items: Double = plan.docs

    def check(): Option[String] = {
      inputBytes += (if (bulk) 0 else bytes)
      val expected = MergeCounts(plan.encCreated + plan.paCreated,
        plan.encUpdated + plan.paUpdated, plan.encUnchanged + plan.paUnchanged)
      val errs = Seq.newBuilder[String]
      if (counts != expected) errs += s"merge counts $counts, expected $expected"
      def audit(feed: String, etl: String, docs: Int, bad: Int): Unit = {
        val (byStatus, wrong, maxId) = db.logAudit(feed, etl, lastIds(feed))
        lastIds += feed -> maxId
        val processed = byStatus("processed")
        val skipped = byStatus("skipped")
        logged = (logged._1 + processed, logged._2 + skipped)
        if (processed != docs - bad || skipped != bad)
          errs += s"$feed statuses $byStatus, expected ${docs - bad} processed, $bad skipped"
        if (wrong != 0) errs += s"$feed: $wrong rows without exactly one $etl log entry"
      }
      audit("receiving_enrollments", db.EnrEtl, plan.enrDocs, plan.enrBad)
      audit("receiving_presence_absence", db.PaEtl, plan.paDocs, plan.paBad)
      val enc = db.read("encounter").count()
      val smp = db.read("sample").count()
      val pa = db.read("presence_absence").count()
      if (enc != planner.encounters || smp != planner.encounters)
        errs += s"encounter/sample rows $enc/$smp, expected ${planner.encounters}"
      if (pa != 4L * planner.samplesWithResults)
        errs += s"presence_absence rows $pa, expected ${4 * planner.samplesWithResults}"
      val e = errs.result()
      if (e.isEmpty) None else Some(e.mkString("; "))
    }
  }

  val ops = scala.collection.mutable.HashMap[Int, CycleOp]()
  def op(i: Int): Option[Op] =
    if (i >= maxCycles + warmupOps) None
    else Some(ops.getOrElseUpdate(i, new CycleOp(i, bulk = false)))

  def isMain(kind: String): Boolean = true
  def isHeavy(kind: String): Boolean = true

  override def figures(untraced: Seq[OpRec]): Seq[(String, M)] = {
    val s = untraced.map(_.seconds)
    Seq("etl.cycle_p50_s" -> M(Stats.median(s), "s"),
      "etl.docs_per_s" -> M(untraced.map(_.items).sum / s.sum, "1/s"),
      "receiving.stored_bytes_per_input_byte" ->
        M(Files.bytes(new File(db.dir, "wh")).toDouble / inputBytes, "ratio"))
  }

  def layers(traced: Seq[OpRec], t: Tracer): Seq[(String, M)] = {
    val tops = traced.flatMap(r => ops.get(r.i))
    def perCycle(f: CycleOp => Double) = Stats.median(tops.map(f))
    val docs = tops.map(_.plan.docs.toDouble).sum
    val changed = tops.map(o => (o.counts.created + o.counts.updated).toDouble).sum
    val unproc = SparkLayer.layerStats(t, traced, "receiving.unprocessed")
    val recvW = SparkLayer.layerStats(t, traced, "receiving.read").outputBytes +
      SparkLayer.layerStats(t, traced, "receiving.swap").outputBytes
    val merge = SparkLayer.layerStats(t, traced, "merge.upsert")
    Seq(
      "receiving.read_s" -> M(SparkLayer.layerSeconds(t, traced, "receiving.read"), "s"),
      "receiving.unprocessed_s" ->
        M(SparkLayer.layerSeconds(t, traced, "receiving.unprocessed"), "s"),
      "receiving.swap_s" -> M(SparkLayer.layerSeconds(t, traced, "receiving.swap"), "s"),
      "receiving.rows_scanned_per_pending" -> M(unproc.inputRecords / docs, "count"),
      "receiving.bytes_written_per_doc" -> M(recvW / docs, "bytes"),
      "etl.decompose_s" -> M(SparkLayer.layerSeconds(t, traced, "etl.decompose"), "s"),
      // from processing_log, as the ETL recorded them (checked against the plan)
      "etl.docs_parsed" -> M(perCycle(o => (o.logged._1 + o.logged._2).toDouble), "count"),
      "etl.quarantine_ratio" -> M(tops.map(_.logged._2.toDouble).sum /
        tops.map(o => (o.logged._1 + o.logged._2).toDouble).sum, "ratio"),
      "merge.upsert_s" -> M(SparkLayer.layerSeconds(t, traced, "merge.upsert"), "s"),
      "merge.created" -> M(perCycle(_.counts.created.toDouble), "count"),
      "merge.updated" -> M(perCycle(_.counts.updated.toDouble), "count"),
      "merge.unchanged" -> M(perCycle(_.counts.unchanged.toDouble), "count"),
      "merge.rows_scanned_per_changed_row" -> M(merge.inputRecords / changed, "count"),
      "merge.bytes_written_per_changed_row" -> M(merge.outputBytes / changed, "bytes"))
  }

  def describe: Map[String, Any] = Map("bulk_enrollments" -> bulkDocs,
    "bulk_presence_absence" -> bulkDocs, "batch_enrollments" -> batchDocs,
    "batch_presence_absence" -> paBatchDocs, "encounters_after_run" ->
      Option(planner).map(_.encounters).getOrElse(0))
}

package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Barcodes, Dedup}

/** Hamming distance in hex digits between two 8-hex codes packed as ints. */
object Hex8 {
  def pack(code: String): Int = java.lang.Integer.parseUnsignedInt(code, 16)
  def dist(a: Int, b: Int): Int = {
    val x = a ^ b
    Integer.bitCount((x | (x >>> 1) | (x >>> 2) | (x >>> 3)) & 0x11111111)
  }
}

/** mint_dedup: identifier minting against a growing barcode set, and
  * near-duplicate passes over a corpus with planted clusters. Ops come in
  * pairs, one of each, in a seeded order. */
final class MintDedup(spark: SparkSession, cfg: Cfg) extends Workload {
  val startCodes: Int = cfg.int("start_codes")
  val mintPerCall: Int = cfg.int("mint_per_call")
  val corpusDocs: Int = cfg.int("corpus_docs")
  val plantedClusters: Int = cfg.int("planted_clusters")
  val warmupOps: Int = cfg.int("warmup_ops")

  private var dir: String = _
  private var codes: mutable.ArrayBuffer[Int] = _
  private var corpus: DataFrame = _
  /** Planted cluster id of every planted document. */
  private var truth: Map[Long, Int] = Map.empty

  private def codesDir = s"$dir/inputs/codes"
  private def existing: DataFrame =
    spark.read.schema("value STRING").text(codesDir).select(col("value").as("code"))

  /** Random 8-hex codes kept only when at distance >= 3 from every code
    * kept so far (exact, via four 2-digit parts: two codes within distance
    * 2 agree on at least two of the parts). */
  private def startingSet(): mutable.ArrayBuffer[Int] = {
    val r = Gen.rng(cfg.seed, "start_codes")
    val kept = mutable.ArrayBuffer[Int]()
    val index = mutable.HashMap[Long, mutable.ArrayBuffer[Int]]()
    def keys(c: Int): Seq[Long] = {
      val parts = (0 until 4).map(p => (c >>> (8 * p)) & 0xff)
      for (a <- 0 until 4; b <- a + 1 until 4)
        yield (a.toLong << 40) | (b.toLong << 32) | (parts(a) << 8 | parts(b)).toLong
    }
    while (kept.size < startCodes) {
      val c = r.nextInt()
      val ks = keys(c)
      if (!ks.exists(k => index.get(k).exists(_.exists(o => Hex8.dist(o, c) < 3)))) {
        kept += c
        ks.foreach(k => index.getOrElseUpdate(k, mutable.ArrayBuffer()) += c)
      }
    }
    kept
  }

  private val words: IndexedSeq[String] = (0 until 600).map(k => s"w${Integer.toString(k, 36)}")

  /** Random documents plus planted clusters: a planted document and
    * 1-3 copies, each with one word replaced. */
  private def writeCorpus(f: File): Map[Long, Int] = {
    val r = Gen.rng(cfg.seed, "corpus")
    def doc(): IndexedSeq[String] = IndexedSeq.fill(80 + r.nextInt(41))(words(r.nextInt(words.size)))
    val docs = mutable.ArrayBuffer[String]()
    val planted = mutable.HashMap[Long, Int]()
    for (c <- 0 until plantedClusters) {
      val base = doc()
      planted(docs.size.toLong) = c; docs += base.mkString(" ")
      for (_ <- 0 to r.nextInt(3)) {
        val copy = base.updated(r.nextInt(base.size), words(r.nextInt(words.size)))
        planted(docs.size.toLong) = c; docs += copy.mkString(" ")
      }
    }
    while (docs.size < corpusDocs) docs += doc().mkString(" ")
    val order = Gen.shuffle(docs.indices, r)
    val ids = order.zipWithIndex.map { case (orig, pos) => orig -> pos.toLong }.toMap
    Gen.writeLines(f, order.indices.iterator.map(pos =>
      s"""{"doc_id":$pos,"text":"${docs(order(pos))}"}"""))
    planted.map { case (orig, c) => ids(orig.toInt) -> c }.toMap
  }

  def setup(dir: String, t: Tracer): Unit = {
    this.dir = dir
    codes = startingSet()
    Gen.writeLines(new File(codesDir, "start.txt"), codes.iterator.map(c => f"$c%08x"))
    val corpusFile = new File(s"$dir/inputs/corpus.ndjson")
    truth = writeCorpus(corpusFile)
    corpus = spark.read.schema("doc_id BIGINT, text STRING").json(corpusFile.getPath)
  }

  final class MintOp(i: Int) extends Op("mint") {
    var minted: DataFrame = _
    var stats: Barcodes.MintStats = _
    def run(t: Tracer): Unit = t.span("barcodes.mint") {
      val (m, s) = Barcodes.mintWithStats(spark, existing, mintPerCall,
        seed = Some(cfg.seed * 100003L + i))
      minted = m; stats = s
    }
    override def items: Double = mintPerCall

    /** Brute force: every new code against every existing code and every
      * other new code. */
    def check(): Option[String] = {
      val got = minted.select("code").collect().map(_.getString(0))
      val packed = got.map(Hex8.pack)
      val errs = Seq.newBuilder[String]
      if (got.length != mintPerCall || stats.minted != mintPerCall)
        errs += s"minted ${got.length} (stats ${stats.minted}), asked for $mintPerCall"
      if (got.distinct.length != got.length) errs += "duplicate codes"
      if (!got.forall(_.matches("[0-9a-f]{8}"))) errs += "malformed codes"
      val old = codes.toArray
      var close = 0L
      for (p <- packed.indices) {
        val c = packed(p)
        var k = 0
        while (k < old.length) { if (Hex8.dist(c, old(k)) < 3) close += 1; k += 1 }
        k = p + 1
        while (k < packed.length) { if (Hex8.dist(c, packed(k)) < 3) close += 1; k += 1 }
      }
      if (close > 0) errs += s"$close pairs at distance < 3"
      codes ++= packed
      Gen.writeLines(new File(codesDir, s"minted_$i.txt"), got.iterator)
      val e = errs.result()
      if (e.isEmpty) None else Some(e.mkString("; "))
    }
  }

  final class DedupOp extends Op("dedup") {
    var pairs: DataFrame = _
    var labels: Array[(Long, Long)] = _
    var traced = false
    def run(t: Tracer): Unit = {
      traced = t.active
      pairs = t.span("dedup.pairs") { t.boundary(Dedup.minhashLshPairs(corpus, "doc_id", "text")) }
      labels = t.span("dedup.cc") {
        Dedup.connectedComponents(pairs).collect().map(r => (r.getLong(0), r.getLong(1)))
      }
    }
    override def items: Double = corpusDocs
    var precision = 0.0; var recall = 0.0; var candidates = 0L

    def check(): Option[String] = {
      if (traced) candidates = pairs.count()
      def pairsOf(groups: Iterable[Seq[Long]]): Set[(Long, Long)] = groups.flatMap { g =>
        val s = g.sorted; for (a <- s.indices; b <- a + 1 until s.size) yield (s(a), s(b))
      }.toSet
      val found = pairsOf(labels.groupBy(_._2).values.map(_.map(_._1).toSeq))
      val planted = pairsOf(truth.groupBy(_._2).values.map(_.keys.toSeq))
      val hit = (found & planted).size.toDouble
      precision = if (found.isEmpty) 0.0 else hit / found.size
      recall = hit / planted.size
      if (precision < 0.9 || recall < 0.9)
        Some(f"near-duplicate precision $precision%.3f recall $recall%.3f, expected both >= 0.9")
      else None
    }
  }

  private val ops = mutable.HashMap[Int, Op]()
  def op(i: Int): Option[Op] = Some(ops.getOrElseUpdate(i, {
    val mintFirst = Gen.rng(cfg.seed, "pair", i / 2).nextBoolean()
    if ((i % 2 == 0) == mintFirst) new MintOp(i) else new DedupOp
  }))
  override def unit(i: Int): Int = i / 2
  def isMain(kind: String): Boolean = kind == "mint"
  def isHeavy(kind: String): Boolean = kind == "dedup"

  override def figures(untraced: Seq[OpRec]): Seq[(String, M)] = {
    def rate(kind: String) = {
      val rs = untraced.filter(_.kind == kind)
      rs.map(_.items).sum / rs.map(_.seconds).sum
    }
    Seq("barcodes.ids_per_s" -> M(rate("mint"), "1/s"),
      "dedup.docs_per_s" -> M(rate("dedup"), "1/s"))
  }

  def layers(traced: Seq[OpRec], t: Tracer): Seq[(String, M)] = {
    val mints = traced.flatMap(r => ops.get(r.i).collect { case m: MintOp => m })
    val dedups = traced.flatMap(r => ops.get(r.i).collect { case d: DedupOp => d })
    val st = mints.map(_.stats)
    val mintJobs = SparkLayer.layerStats(t, traced, "barcodes.mint").jobs
    val ccJobs = SparkLayer.layerStats(t, traced.filter(_.kind == "dedup"), "dedup.cc").jobs
    Seq(
      "barcodes.mint_s" -> M(SparkLayer.layerSeconds(t, traced.filter(_.kind == "mint"),
        "barcodes.mint"), "s"),
      "barcodes.rounds" -> M(Stats.median(st.map(_.rounds.toDouble)), "count"),
      "barcodes.yield_ratio" -> M(st.map(_.minted.toDouble).sum /
        st.map(_.candidatesTried.toDouble).sum, "ratio"),
      "barcodes.conflicts" -> M(Stats.median(st.map(s =>
        (s.conflictsWithExisting + s.intraBatchRejects).toDouble)), "count"),
      "barcodes.jobs_per_round" -> M(mintJobs.toDouble / st.map(_.rounds).sum, "count"),
      "dedup.pairs_s" -> M(SparkLayer.layerSeconds(t, traced.filter(_.kind == "dedup"),
        "dedup.pairs"), "s"),
      "dedup.cc_s" -> M(SparkLayer.layerSeconds(t, traced.filter(_.kind == "dedup"),
        "dedup.cc"), "s"),
      "dedup.cc_jobs" -> M(ccJobs.toDouble / math.max(1, dedups.size), "count"),
      "dedup.candidate_pairs" -> M(Stats.median(dedups.map(_.candidates.toDouble)), "count"),
      "dedup.pair_precision" -> M(Stats.median(dedups.map(_.precision)), "ratio"),
      "dedup.recall" -> M(Stats.median(dedups.map(_.recall)), "ratio"))
  }

  def describe: Map[String, Any] = Map("start_codes" -> startCodes,
    "mint_per_call" -> mintPerCall, "corpus_docs" -> corpusDocs,
    "planted_clusters" -> plantedClusters, "planted_docs" -> truth.size)
}

package perfbench

import java.sql.Timestamp

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The star schema and corpus tables the query catalogue reads, generated
  * from the seed with the shapes of the library's test data (TPC-H-like
  * tables, an event stream, a 30-word-vocabulary document corpus with 5%
  * near-duplicate copies, and unit-norm 64-d embeddings in 10 labels). */
final class CatalogueTables(spark: SparkSession, seed: Long, sf: Double) {
  private val r = Gen.rng(seed, "catalogue")
  private def n(perSf: Double): Int = math.max(10, math.round(perSf * sf).toInt)
  private def money(x: Double): Double = math.round(x * 100) / 100.0
  private def ts(epochS: Long): Timestamp = new Timestamp(epochS * 1000L)
  private val day = 86400L
  private val from1995 = 788918400L // 1995-01-01
  private val from2024 = 1704067200L // 2024-01-01

  val customers: Int = n(1.5e5); val suppliers: Int = n(1e4); val parts: Int = n(2e5)
  val orders: Int = n(1.5e6); val lineitems: Int = n(6e6); val events: Int = n(1e6)
  val documents = 500; val embeddings = 500

  private def write(dir: String, name: String, schema: String, rows: Seq[Row]): Unit = {
    val s = StructType.fromDDL(schema)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), s).coalesce(1)
      .write.parquet(s"$dir/$name.parquet")
  }
  private def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))

  def writeAll(dir: String): Unit = {
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(dir, "region", "r_regionkey INT, r_name STRING",
      regions.indices.map(k => Row(k, regions(k))))
    write(dir, "nation", "n_nationkey INT, n_name STRING, n_regionkey INT",
      (0 until 25).map(k => Row(k, s"NATION_$k", k % 5)))
    val segments = Seq("BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE")
    write(dir, "customer", "c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING", (0 until customers).map(k =>
        Row(k.toLong, f"Customer#$k%09d", r.nextInt(25), money(r.nextDouble() * 10000),
          pick(segments))))
    write(dir, "supplier", "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
      (0 until suppliers).map(k => Row(k.toLong, f"Supplier#$k%09d", r.nextInt(25),
        money(r.nextDouble() * 10000))))
    val colours = Seq("small", "red", "blue", "green", "large", "steel")
    val things = Seq("ring", "widget", "bolt", "gear", "nut", "plate")
    val types = Seq("ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO")
    write(dir, "part", "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE", (0 until parts).map(k =>
        Row(k.toLong, s"${pick(colours)} ${pick(things)}", s"Brand#${1 + r.nextInt(25)}",
          pick(types), 1 + r.nextInt(50), money(900 + (k % 1000) * 0.1))))
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write(dir, "orders", "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING",
      (0 until orders).map(k => Row(k.toLong, r.nextInt(customers).toLong,
        pick(Seq("F", "O", "P")), money(1000 + r.nextDouble() * 499000),
        ts(from1995 + r.nextInt(2404) * day), pick(priorities))))
    write(dir, "lineitem", "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
      "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP",
      (0 until lineitems).map { _ =>
        val q = 1 + r.nextInt(50)
        Row(r.nextInt(orders).toLong, r.nextInt(parts).toLong, r.nextInt(suppliers).toLong,
          1 + r.nextInt(7), q.toDouble, money(q * (900 + r.nextDouble() * 2000)),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(Seq("A", "N", "R")),
          pick(Seq("F", "O")), ts(from1995 + 1 + r.nextInt(2499) * day))
      })
    val kinds = Seq("click", "signup", "error", "view", "purchase")
    var t = from2024 * 1000000L
    val step = 30L * day * 1000000L / events
    write(dir, "events", "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING", (0 until events).map { k =>
        t += 1 + (r.nextDouble() * 2 * step).toLong
        Row(k.toLong, new Timestamp(t / 1000L), r.nextInt(150).toLong, pick(kinds),
          money(0.01 + r.nextDouble() * 490), s"""{"k": ${r.nextInt(100)}}""")
      })
    val vocab = ("key agg row scan slow fast table value part hash merge batch spark a " +
      "the line sort window data column join small customer query big order group " +
      "stream filter vector").split(" ").toIndexedSeq
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    (0 until documents).foreach { k =>
      // 5% near-duplicate copies: an earlier document with " dup" appended
      texts += (if (k > 10 && r.nextInt(20) == 0) texts(r.nextInt(k)) + " dup"
        else Seq.fill(10 + r.nextInt(90))(pick(vocab)).mkString(" "))
    }
    val langs = Seq("en", "en", "en", "zh", "de", "es", "fr")
    write(dir, "documents", "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT", texts.indices.map(k => Row(k.toLong, texts(k), pick(langs),
        s"src${k % 20}", texts(k).length.toLong)))
    val centroids = (0 until 10).map(_ => Array.fill(64)(r.nextGaussian()))
    write(dir, "embeddings", "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
      (0 until embeddings).map { k =>
        val label = r.nextInt(10)
        val v = centroids(label).map(c => c + 2.0 * r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(k.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}

/** The gate queries (`SparkEntry.queries`) the catalogue runs, by family.
  * A family is the operator module the query exercises (one query each,
  * so every module a gate query calls is reached), plus `relational`
  * (plain Spark SQL), `shipping` (the shipping views) and `feeds` (the
  * FHIR decomposer). */
object Catalogue {
  val Families: Seq[(String, Seq[String])] = Seq(
    "asofjoin" -> Seq("q98_asof_join"),
    "barcodes" -> Seq("q19_hamming_pairs"),
    "contracts" -> Seq("q260_data_contract"),
    "dedup" -> Seq("q22_minhash_pairs"),
    "deletes" -> Seq("q65_like_delete"),
    "embeddings" -> Seq("q75_mean_pool"),
    "eventanalytics" -> Seq("q121_scd2"),
    "fuzzyjoin" -> Seq("q273_edit_distance_join"),
    "graph" -> Seq("q79_cc_chain"),
    "intervaljoin" -> Seq("q101_interval_overlap"),
    "itemsets" -> Seq("q181_frequent_pairs"),
    "ivm" -> Seq("q270_ivm_totals"),
    "linkage" -> Seq("q275_record_linkage"),
    "merge" -> Seq("q24_merge"),
    "multimodal" -> Seq("q35_multimodal"),
    "prefixjoin" -> Seq("q177_lpm_join"),
    "privacy" -> Seq("q160_anonymity_audit"),
    "profile" -> Seq("q207_odds_ratio"),
    "receiving" -> Seq("q25_unprocessed"),
    "sampling" -> Seq("q103_split_assign"),
    "search" -> Seq("q143_phrase_search"),
    "similaritysearch" -> Seq("q29_embed_topk"),
    "sketches" -> Seq("q255_sketch_quantiles"),
    "skew" -> Seq("q80_skew_distinct"),
    "skyline" -> Seq("q180_skyline"),
    "spatialjoin" -> Seq("q195_radius_join"),
    "textanalysis" -> Seq("q97_tfidf_keywords"),
    "timeseries" -> Seq("q196_cusum"),
    "web" -> Seq("q152_url_canonical"),
    "relational" -> Seq("q1_agg", "q82_session_window"),
    "shipping" -> Seq("q26_pa_v1", "q53_pa_v2"),
    "feeds" -> Seq("q55_fhir_encounters"))

  val familyOf: Map[String, String] =
    Families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap
}

/** catalogue: passes over the queries of `Catalogue.Families`, each pass
  * in a seeded order, each query forced through the `noop` sink. One
  * untimed warm-up pass comes first; a pass is the unit the traced run
  * alternates on. */
final class Catalogue(spark: SparkSession, cfg: Cfg) extends Workload {
  import Catalogue._

  val queries: IndexedSeq[String] = Families.flatMap(_._2).toIndexedSeq
  require(queries.forall(graft.SparkEntry.queries.contains),
    s"not gate queries: ${queries.filterNot(graft.SparkEntry.queries.contains)}")
  val warmupOps: Int = queries.size * cfg.int("warmup_passes")

  private var dir: String = _
  private val rows = scala.collection.mutable.HashMap[String, Long]()

  def setup(dir: String, t: Tracer): Unit = {
    this.dir = s"$dir/tables"
    rows.clear()
    new CatalogueTables(spark, cfg.seed, cfg.dbl("sf")).writeAll(this.dir)
  }

  final class QueryOp(q: String) extends Op(s"query:$q") {
    var n = -1L
    def run(t: Tracer): Unit = t.span(s"catalogue.${familyOf(q)}") {
      val obs = Observation(s"rows_$q")
      graft.SparkEntry.queries(q)(spark, dir).observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      n = Await.result(obs.future, 60.seconds).getLong(0)
    }
    override def items: Double = 1.0
    def check(): Option[String] = rows.get(q) match {
      case Some(prev) if prev != n => Some(s"$q returned $n rows, earlier $prev")
      case Some(_) => None
      case None => rows(q) = n; None
    }
  }

  def op(i: Int): Option[Op] = {
    val order = Gen.shuffle(queries, Gen.rng(cfg.seed, "pass", unit(i)))
    Some(new QueryOp(order(i % queries.size)))
  }
  override def unit(i: Int): Int = i / queries.size
  def isMain(kind: String): Boolean = true
  def isHeavy(kind: String): Boolean = true

  /** The whole passes among `recs`, each as its ops. */
  private def passes(recs: Seq[OpRec]): Seq[Seq[OpRec]] =
    recs.groupBy(r => unit(r.i)).values.filter(_.size == queries.size).toSeq

  override def figures(untraced: Seq[OpRec]): Seq[(String, M)] = {
    val s = untraced.map(_.seconds)
    Seq("catalogue.pass_s" -> M(Stats.median(passes(untraced).map(_.map(_.seconds).sum)), "s"),
      "catalogue.query_p50_s" -> M(Stats.median(s), "s"),
      "catalogue.query_tail_s" -> M(Stats.tail("catalogue.query_tail_s", s), "s"))
  }

  /** Per family, the median over traced passes of its queries' seconds. */
  def layers(traced: Seq[OpRec], t: Tracer): Seq[(String, M)] = {
    val ps = passes(traced)
    Families.map { case (f, _) =>
      s"catalogue.family_s.$f" -> M(Stats.median(ps.map(_.filter(r =>
        familyOf(r.kind.stripPrefix("query:")) == f).map(_.seconds).sum)), "s")
    }
  }

  def describe: Map[String, Any] = Map("sf" -> cfg.dbl("sf"),
    "warmup_passes" -> cfg.int("warmup_passes"), "queries" -> queries.size,
    "families" -> Families.toMap)
}

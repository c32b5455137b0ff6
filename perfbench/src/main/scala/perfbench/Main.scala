package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Run configuration, parsed from the launcher's arguments. */
final case class Cfg(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cpus: Int, work: String, root: String, jvm: String,
    params: Map[String, String]) {
  def int(k: String): Int = params(k).toInt
  def dbl(k: String): Double = params(k).toDouble
}

/** One unit of timed work. Only `run` is timed. */
abstract class Op(val kind: String) {
  /** Makes this op's inputs (untimed). */
  def prepare(): Unit = ()
  def run(t: Tracer): Unit
  /** Compares the outputs with expectations computed independently of the
    * layer under test (untimed): None when they match, else the reason. */
  def check(): Option[String]
  /** Items (documents, ids, rows, queries) the op processed. */
  def items: Double = 0.0
}

/** A metric as printed: value and unit. */
final case class M(value: Double, unit: String)

trait Workload {
  /** Builds the inputs from the seed and the starting state under `dir`. */
  def setup(dir: String, t: Tracer): Unit
  /** Verifies the state setup built (untimed): None when it is right. */
  def setupCheck(): Option[String] = None
  /** Ops run untimed after setup (JIT, codegen cache); they are checked. */
  def warmupOps: Int
  /** The i-th op of the seeded sequence, or None when the plan is exhausted. */
  def op(i: Int): Option[Op]
  /** The unit (deck, pair, pass) op i belongs to; the traced run traces
    * whole units, every other one, so traced and untraced ops of a kind
    * run in the same positions. */
  def unit(i: Int): Int = i
  /** Kinds whose latency makes op_p50_ms. */
  def isMain(kind: String): Boolean
  /** Kinds whose items and time make items_per_s. */
  def isHeavy(kind: String): Boolean
  /** Workload-specific figures, end to end (from untraced ops). */
  def figures(untraced: Seq[OpRec]): Seq[(String, M)] = Nil
  /** Workload-specific per-layer metrics (from traced ops). */
  def layers(traced: Seq[OpRec], t: Tracer): Seq[(String, M)]
  /** Sizes and mix actually used, echoed in the details. */
  def describe: Map[String, Any]
}

final case class OpRec(i: Int, kind: String, traced: Boolean, seconds: Double,
    error: Option[String], items: Double)

object Main {
  def parse(argv: Array[String]): Cfg = {
    val kv = argv.grouped(2).toSeq
    def one(k: String) = kv.collectFirst { case Array(`k`, v) => v }
      .getOrElse(sys.error(s"missing $k"))
    val params = kv.collect { case Array("--param", p) =>
      val Array(k, v) = p.split("=", 2); k -> v }.toMap
    Cfg(one("--workload"), one("--seed").toLong, one("--seconds").toDouble,
      one("--trace") == "1", one("--cpus").toInt, one("--work"),
      one("--root"), one("--jvm"), params)
  }

  /** The Spark settings of the library's Bench main, listed once. */
  def sparkSettings(cfg: Cfg): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[${cfg.cpus}]",
    "spark.sql.shuffle.partitions" -> cfg.cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"${cfg.work}/spark-local",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.warehouse.dir" -> s"${cfg.work}/spark-warehouse",
    "spark.driver.memory" -> "4g")

  /** Points the library's scratch root (materialised feeds) into the run's
    * own directory, so a run reads and writes only inside its checkout and
    * every run starts from the same empty state. */
  def redirectScratchspace(dir: String): Unit = {
    val cls = Class.forName("graft.Scratchspace$")
    val module = cls.getField("MODULE$").get(null)
    val root = cls.getDeclaredField("root")
    root.setAccessible(true)
    root.set(module, dir)
    cls.getDeclaredFields.filter(_.getName.startsWith("bitmap$")).foreach { f =>
      f.setAccessible(true)
      f.getType match {
        case java.lang.Byte.TYPE => f.setByte(module, (f.getByte(module) | 1).toByte)
        case java.lang.Integer.TYPE => f.setInt(module, f.getInt(module) | 1)
        case java.lang.Long.TYPE => f.setLong(module, f.getLong(module) | 1L)
        case java.lang.Boolean.TYPE => f.setBoolean(module, true)
        case _ =>
      }
    }
    require(graft.Scratchspace.root == dir,
      s"could not redirect graft.Scratchspace.root (still ${graft.Scratchspace.root})")
  }

  def main(argv: Array[String]): Unit = {
    val cfg = parse(argv)
    Catalog.requireMatches(new java.io.File(cfg.root, "BENCHMARK.json"))
    new java.io.File(cfg.work, "scratchspace").mkdirs()
    redirectScratchspace(new java.io.File(cfg.work, "scratchspace").getPath)
    val b = SparkSession.builder()
    sparkSettings(cfg).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.registerAll(spark)

    val tracer = new Tracer(spark)
    val wl: Workload = cfg.workload match {
      case "etl_incremental" => new EtlIncremental(spark, cfg)
      case "shipping_read" => new ShippingRead(spark, cfg)
      case "mint_dedup" => new MintDedup(spark, cfg)
      case "catalogue" => new Catalogue(spark, cfg)
      case other => sys.error(s"unknown workload $other")
    }
    val out = Harness.run(spark, cfg, wl, tracer)
    println(out)
    System.out.flush()
    System.err.flush()
    // no orderly Spark shutdown: it takes about 3 s per run and measures
    // nothing, and the launcher wipes the run directory it would clean
    Runtime.getRuntime.halt(0)
  }
}

object Harness {
  def run(spark: SparkSession, cfg: Cfg, wl: Workload, tracer: Tracer): String = {
    val failures = ArrayBuffer[String]()
    val uptime = java.lang.management.ManagementFactory.getRuntimeMXBean
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    var lastMark = 0.0
    def mark(phase: String): Unit = {
      val now = uptime.getUptime / 1000.0
      phases(phase) = now - lastMark; lastMark = now
    }
    mark("jvm_start")

    // set-up, once, from an empty directory in a fresh JVM: the cold
    // set-up a caller pays
    val setupStart = System.nanoTime()
    wl.setup(new java.io.File(cfg.work, "state").getPath, tracer)
    val setupS = (System.nanoTime() - setupStart) / 1e9
    mark("setup")
    wl.setupCheck().foreach(e => failures += s"setup: $e")
    mark("setup_check")

    def execute(i: Int, op: Op, traced: Boolean): OpRec = {
      op.prepare()
      if (traced) tracer.beginOp(i)
      val t0 = System.nanoTime()
      val err = try { tracer.span("op") { op.run(tracer) }; None }
      catch { case e: Throwable => Some(s"threw ${e.getClass.getName}: ${e.getMessage}") }
      val dt = (System.nanoTime() - t0) / 1e9
      if (traced) { tracer.endOp(); tracer.drain() }
      val bad = err.orElse(
        try op.check() catch { case e: Throwable =>
          Some(s"check threw ${e.getClass.getName}: ${e.getMessage}") })
      bad.foreach(b => failures += s"op $i (${op.kind}): ${b.take(400)}")
      OpRec(i, op.kind, traced, dt, bad, op.items)
    }

    var i = 0
    val warm = (0 until wl.warmupOps).flatMap { _ =>
      val r = wl.op(i).map(op => execute(i, op, traced = false)); i += 1; r }

    mark("warmup")
    val recs = ArrayBuffer[OpRec]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var more = true
    // a fixed number of whole units, scaled from --seconds by the unit's
    // nominal length, so every run of a workload does the same work: a
    // cut at the first unit boundary past --seconds would make the op
    // count, and with JIT warming the latencies, depend on the machine's
    // speed. At least two units; at most 3 × --seconds. A traced run makes
    // an odd number, at least three, so its traced units sit between
    // untraced ones and ops that still speed up as the JIT warms do not
    // favour either side of the overhead ratio.
    val units0 = math.max(2, math.round(cfg.seconds / cfg.dbl("unit_s")).toInt)
    val targetUnits = if (cfg.trace) math.max(3, units0 | 1) else units0
    val firstUnit = wl.unit(i)
    var units = 0
    while (more && units < targetUnits && elapsed < 3 * cfg.seconds) {
      wl.op(i) match {
        case None => more = false
        case Some(op) =>
          // the traced run alternates untraced and traced units, so the
          // tracing overhead is measured under the same conditions
          recs += execute(i, op, traced = cfg.trace && (wl.unit(i) - firstUnit) % 2 == 1)
          if (wl.unit(i + 1) != wl.unit(i)) units += 1
          i += 1
      }
    }
    val timedWall = elapsed

    // retained heap, after the timed phase: Spark frees checkpoint and
    // broadcast blocks only once a collection has cleared their owners, so
    // collect, give the context cleaner time, and collect again
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val heapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0
    mark("timed")

    val untraced = recs.filter(!_.traced).toSeq
    val ok = untraced.filter(_.error.isEmpty)
    val main = ok.filter(r => wl.isMain(r.kind)).map(_.seconds)
    val heavy = ok.filter(r => wl.isHeavy(r.kind))
    val e2eValues = Map(
      "setup_s" -> setupS,
      "op_p50_ms" -> Stats.median(main) * 1000,
      "items_per_s" -> heavy.map(_.items).sum / heavy.map(_.seconds).sum,
      "retained_heap_mb" -> heapMb)
    val e2e = Catalog.endToEnd.map { case (name, unit) => name -> M(e2eValues(name), unit) }

    val traced = recs.filter(_.traced).toSeq
    val perLayer: Seq[(String, M)] = if (!cfg.trace) Nil else {
      val tracedOk = traced.filter(_.error.isEmpty)
      val common = Seq(
        "op_drift_ratio" -> M(Stats.drift(untraced.filter(_.error.isEmpty)), "ratio"),
        "trace_overhead_ratio" -> M(Stats.overhead(tracedOk, ok), "ratio")) ++
        SparkLayer.metrics(tracer, tracedOk, cfg.cpus)
      common ++ wl.figures(untraced.filter(_.error.isEmpty)) ++ wl.layers(tracedOk, tracer)
    }
    val layerAll = Catalog.perLayer(perLayer)

    // warm-up ops are checked like timed ones, so they count here too
    val attempted = warm.size + recs.size
    val failed = (warm ++ recs).count(_.error.isDefined)
    val correct = failures.isEmpty
    val metrics = if (cfg.trace) layerAll else e2e

    val children = tracer.spans.groupBy(_.parent)
    val spanStats = tracer.spans.groupBy(_.name).map { case (name, ss) =>
      val st = ss.map(s => tracer.statsOf(s.id))
      name -> Map("count" -> ss.size, "wall_s" -> ss.map(_.seconds).sum,
        "self_s" -> ss.map(s => s.seconds -
          children.get(s.id).map(_.map(_.seconds).sum).getOrElse(0.0)).sum,
        "jobs" -> st.map(_.jobs).sum, "stages" -> st.map(_.stages).sum,
        "tasks" -> st.map(_.tasks).sum, "shuffle_bytes" -> st.map(_.shuffleBytes).sum,
        "input_records" -> st.map(_.inputRecords).sum,
        "input_bytes" -> st.map(_.inputBytes).sum,
        "output_bytes" -> st.map(_.outputBytes).sum,
        "task_run_s" -> st.map(_.taskRunMs).sum / 1000.0,
        "job_busy_s" -> st.map(s => Tracer.unionMs(s.jobIntervals.toSeq)).sum / 1000.0)
    }
    val details = Map[String, Any](
      "workload" -> cfg.workload, "seed" -> cfg.seed, "seconds" -> cfg.seconds,
      "trace" -> cfg.trace, "cpus" -> cfg.cpus,
      "jvm" -> cfg.jvm,
      "spark" -> Main.sparkSettings(cfg).toMap,
      "params" -> cfg.params, "workload_plan" -> wl.describe,
      "setup_s" -> setupS, "warmup_ops" -> warm.size,
      "timed_wall_s" -> timedWall, "phases_s" -> phases,
      "main_op_samples" -> main.size, "units" -> units, "target_units" -> targetUnits,
      "tails" -> Stats.tails.toMap.map { case (k, (p, n)) =>
        k -> Map("percentile" -> p, "samples" -> n) },
      "failures" -> failures.toSeq,
      "end_to_end" -> e2e.toMap.map { case (k, m) => k -> m.value },
      "figures" -> wl.figures(untraced.filter(_.error.isEmpty)).toMap
        .map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
      "per_layer" -> perLayer.toMap.map { case (k, m) => k -> m.value },
      "span_stats" -> spanStats,
      "ops" -> recs.map(r => Map("i" -> r.i, "kind" -> r.kind,
        "traced" -> r.traced, "s" -> r.seconds, "items" -> r.items,
        "error" -> r.error.getOrElse(""))).toSeq)
    val detailsPath = new java.io.File(new java.io.File(cfg.work).getParentFile,
      s"details_${cfg.workload}_t${if (cfg.trace) 1 else 0}.json")
    Files.write(detailsPath, Json(details))
    if (cfg.trace) Files.write(new java.io.File(detailsPath.getParentFile,
      s"spans_${cfg.workload}.jsonl"), tracer.spans.map(s => Json(Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))).mkString("\n"))
    System.err.println(s"perfbench: ${cfg.workload} trace=${cfg.trace} " +
      f"setup=$setupS%.2f ops=$attempted failed=$failed main_n=${main.size} units=$units")
    failures.take(20).foreach(f => System.err.println(s"perfbench: FAILED $f"))
    System.err.println(s"perfbench: details in $detailsPath")

    Json(Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, m) =>
        k -> Map("value" -> m.value, "unit" -> m.unit) }.toMap))
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]; NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p / 100.0 * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Percentile and sample count of every tail taken in this run. */
  val tails = scala.collection.mutable.LinkedHashMap[String, (Int, Int)]()

  /** The tail of `xs`: the highest whole percentile with at least ten
    * samples beyond it. NaN (reported as 0) at twenty samples or fewer,
    * where that percentile would be the median or lower. */
  def tail(name: String, xs: Seq[Double]): Double =
    if (xs.size <= 20) { tails(name) = (0, xs.size); Double.NaN }
    else {
      val p = math.floor(100.0 * (1.0 - 10.0 / xs.size)).toInt
      tails(name) = (p, xs.size)
      pct(xs, p)
    }

  /** Median over op kinds of (median traced latency / median untraced
    * latency), over the kinds that ran both ways. */
  def overhead(traced: Seq[OpRec], untraced: Seq[OpRec]): Double = {
    val u = untraced.groupBy(_.kind)
    median(traced.groupBy(_.kind).toSeq.collect { case (k, ts) if u.contains(k) =>
      median(ts.map(_.seconds)) / median(u(k).map(_.seconds)) })
  }

  /** Median of the last tenth of ops over the median of the first tenth,
    * each op's latency first divided by the median of its kind. */
  def drift(recs: Seq[OpRec]): Double = {
    val byKind = recs.groupBy(_.kind).map { case (k, rs) => k -> median(rs.map(_.seconds)) }
    val norm = recs.sortBy(_.i).map(r => r.seconds / byKind(r.kind))
    val k = math.max(1, norm.size / 10)
    median(norm.takeRight(k)) / median(norm.take(k))
  }
}

object Files {
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(rm)
    f.delete()
  }
  def write(f: java.io.File, s: String): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))
  }
  /** Bytes on disk under a directory tree. */
  def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(bytes).sum
    else if (f.exists) f.length else 0L
}

/** Minimal JSON writer for the result line and the details file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}

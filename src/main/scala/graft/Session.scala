package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.SparkSession

/** The one way graft gets a SparkSession: Bench, Verify, Cli, every dev
  * main and every spec run under the same config, so a plan pinned in a
  * spec is the plan the bench runs.
  *
  * Extensions go in per session through the session state
  * ([[graft.plans.GraftExtensions.registerAll]], idempotent) rather than
  * through the static `spark.sql.extensions` conf, which only binds when
  * the JVM's first session is built.
  */
object Session {

  /** `local[cpus]` with `cpus` shuffle partitions. `getOrCreate` returns
    * the live session if there is one, so calling this twice is safe. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); core.Tables.events turns
      // the long back into a timestamp
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratchDir("spark-local"))
      .config("spark.sql.warehouse.dir", warehouseDir)
      // static conf: the default 100-entry generated-class cache thrashes
      // across the gate's queries x several codegen stages each,
      // re-running janino on every pass
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.registerAll(spark)
    spark
  }

  /** Cores for a main: `SPARK_GRAFT_CPUS`, else every core of the box. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private def scratchDir(name: String): String = {
    val d = new java.io.File(Scratchspace.root, name)
    d.mkdirs()
    d.getPath
  }

  /** One warehouse per JVM, deleted at exit: the in-memory catalog dies
    * with the JVM, and a managed table's directory left behind by an
    * earlier JVM makes `saveAsTable` fail with LOCATION_ALREADY_EXISTS. */
  private lazy val warehouseDir: String = {
    val d = Files.createTempDirectory(
      Paths.get(scratchDir("spark-warehouse")), "jvm-")
    sys.addShutdownHook {
      val walk = Files.walk(d)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
    d.toString
  }
}

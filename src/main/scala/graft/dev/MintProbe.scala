package graft.dev

import org.apache.spark.sql.functions._

/** q34's mint shape at scale, with the MintStats the gate hides:
  * existing = md5-derived 8-hex codes from `customer` (1.5M at sf10 —
  * PAST the ~670k random-mint saturation estimate), mint n seeded.
  * Prints rounds / candidatesTried / conflict counts / wall — the data
  * for deciding whether slow sf10 minting is retry work (reference
  * semantics) or a plan defect.
  *
  * Usage: dev/run1.sh graft.dev.MintProbe <sfDir> [n=50]
  */
object MintProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val n = if (args.length > 1) args(1).toInt else 50
    val spark = graft.Session.local(graft.Session.envCpus)
    val existing = spark.read.parquet(s"$dir/customer.parquet")
      .select(substring(md5(col("c_custkey").cast("string")), 1, 8)
        .as("code"))
    val nExisting = existing.count()
    val t0 = System.nanoTime()
    val (minted, stats) = graft.operators.Barcodes.mintWithStats(
      spark, existing, n, seed = Some(42L))
    val got = minted.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"probe":"mint","n_existing":$nExisting,"requested":$n,""" +
      f""""minted":$got,"rounds":${stats.rounds},""" +
      f""""tried":${stats.candidatesTried},""" +
      f""""ext_conflicts":${stats.conflictsWithExisting},""" +
      f""""intra_rejects":${stats.intraBatchRejects},"sec":$sec%.1f}""")
    spark.stop()
  }
}

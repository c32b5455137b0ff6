package graft

/** Scratch storage for harness-local artifacts (shuffle spill dirs,
  * materialized receiving feeds).
  *
  * The bench/verify boxes back `/tmp` with a slow shared disk (measured
  * ~60 MB/s with multi-second stalls under contention — slow passes showed
  * 30-40% kernel time with idle CPUs), while RAM is plentiful. Prefer
  * `/dev/shm` (tmpfs) when present so shuffle and feed I/O never touches
  * the disk; fall back to `java.io.tmpdir` elsewhere. On a real cluster
  * `spark.local.dir` comes from the cluster manager instead — this is
  * single-box harness plumbing, not a deployment setting.
  */
object Scratchspace {
  lazy val root: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File(shm, "graft-scratch")
      d.mkdirs()
      d.getPath
    } else System.getProperty("java.io.tmpdir", "/tmp")
  }
}

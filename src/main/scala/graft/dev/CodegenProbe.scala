package graft.dev

/** Dev probe: prints whether any codegen stage of the named queries falls
  * back to interpreted mode (hugeMethodLimit / compile failure shows up as
  * a missing WholeStageCodegen span or a codegen fallback warning).
  */
object CodegenProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session.local(graft.Session.envCpus)
    for (name <- args.drop(1)) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.collect() // executes THIS QueryExecution, finalizing the AQE plan
      val p = df.queryExecution.executedPlan.toString
      val stages = "\\*\\(\\d+\\)".r.findAllIn(p).toSet.size
      val fallback = p.linesIterator.count(l =>
        l.contains("codegen=false") || l.contains("Fallback"))
      println(s"[probe] $name codegenStages=$stages fallbackMarkers=$fallback")
    }
    spark.stop()
  }
}

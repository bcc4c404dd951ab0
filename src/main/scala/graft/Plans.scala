package graft

/** Dev-loop plan capture (round 16, optimization guide §1/§7.2): dump
  * `.explain("formatted")` for the named registered queries to
  * `<outDir>/<name>.txt` — the evidence files behind plan-shape claims
  * (`plans/r16/<name>_before.txt` / `_after.txt`). Session config mirrors Bench so
  * the captured plan is the one the bench actually runs (AQE on, same
  * shuffle partitions, UTC, nanos-as-long).
  *
  * Usage: `runMain graft.Plans <outDir> <query> [query ...]`
  * (`SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` as in Bench).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val outDir = args.head
    val names = args.tail
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // dev-loop knob: decouple shuffle partitions from the core count.
    // Timing rows is Bench's job (`runMain graft.Bench <row ...>`).
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    // engine config from the shared builder (round 17)
    val spark = GraftSession.builder(s"local[$cpus]", shufflePartitions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$name.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plans] wrote $outDir/$name.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

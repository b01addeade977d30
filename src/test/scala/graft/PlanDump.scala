package graft

import java.nio.file.{Files, Paths}

/** Dev tool (test scope — not shipped): dump `.explain("formatted")` for
  * named queries to files, for the plans/rNN/ before/after evidence the
  * optimization rounds commit.
  *
  * Usage: Test/runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1 q2 ...]
  * Writes <outDir>/<query>_<suffix>.txt per query; no names means every
  * declared query, and an unknown name fails fast.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Verify.localSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    for (q <- SparkEntry.select(names)) {
      val n = q.name
      val df = q.build(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
      Caches.releaseAll(spark)
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}

package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The local session the Verify, Bench and PlanDump mains run in. */
  def localSession(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (dev iteration on a
    // single query); the driver's 2-arg invocation dumps everything
    val (sfDir, outDir) = (args(0), args(1))
    val selected =
      SparkEntry.select(if (args.length > 2) args(2).split(",").toSeq else Nil)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { q =>
      try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
      // drop each query's operator caches before the next one — the
      // documented lifecycle for long-lived sessions (see graft.Caches)
      finally Caches.releaseAll(spark)
    }
    // Jackson escapes quote, backslash and ALL control chars (<0x20) — a
    // tab or CR in builder-authored SQL would otherwise make the driver's
    // json.load fail and silently zero the round's correctness.
    val json = new ObjectMapper()
    def q(s: String): String = json.writeValueAsString(s)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}

package graft.bench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{count, lit}

import graft.{Caches, SparkEntry}

/** `surface`: a fixed sample of gated `SparkEntry.queries`, each run
  * through the noop sink with `Caches.releaseAll` after it, as
  * `graft.Bench` does: sub-second queries from every family, where table
  * loads and job launch dominate. The seed only shuffles the order. Each
  * query's row count and content hash must equal the values committed in
  * `osmbench/expected/surface.json`, and no query may return zero rows.
  *
  * The tables are a fixed data set, like the repo's test data: they do not
  * depend on the seed. With `dataDir` they are read from there (run.py
  * writes them once per build); without it, setup writes them into the
  * work dir.
  */
final class SurfaceWorkload(ctx: Ctx, expectedFile: Option[Path], dataDir: Option[Path])
    extends Workload {
  import ctx._
  import SurfaceWorkload._

  val sf: Double = if (tiny) TinySf else Sf
  val scaleKey: String = if (tiny) "tiny" else "full"
  private val sfDir = dataDir.getOrElse(work.resolve("sf"))

  def prepare(rep: Int): Unit = if (dataDir.isEmpty) SurfaceData.write(spark, sfDir, sf)

  /** name -> (rows, hash) from the committed file, for this scale. */
  private lazy val expected: Map[String, (Long, BigDecimal)] = expectedFile match {
    case Some(f) if Files.exists(f) =>
      val root = new ObjectMapper().readTree(Files.readAllBytes(f)).get(scaleKey)
      if (root == null) Map.empty
      else root.fields().asScala.map { e =>
        e.getKey -> (e.getValue.get("rows").asLong, BigDecimal(e.getValue.get("hash").asText))
      }.toMap
    case _ => Map.empty
  }

  val ops: Seq[Op] = new scala.util.Random(seed).shuffle(Sample).map { name =>
    Op(name, () => {
      val got = try {
        val df = tracer.span("entry.build")(SparkEntry.queries(name)(spark, sfDir.toString))
        tracer.span("entry.exec")(runObserved(df, name, Seq(count(lit(1)), Checks.resultHash)))
      } finally tracer.span("caches.release")(Caches.releaseAll(spark))
      () => {
        val (n, hash) = (got(0).asInstanceOf[Number].longValue,
          BigDecimal(Option(got(1)).map(_.toString).getOrElse("0")))
        if (n == 0) Some(s"$name returned no rows")
        else expected.get(name) match {
          case None => Some(s"$name: $n rows, hash $hash; no expected value for scale $scaleKey")
          case Some((en, eh)) if en != n || eh != hash =>
            Some(s"$name: $n rows, hash $hash; expected $en rows, hash $eh")
          case _ => None
        }
      }
    })
  }

  def stamp: Seq[(String, String)] = Seq("sf" -> sf.toString,
    "sf_dir" -> sfDir.toString, "queries" -> Sample.size.toString,
    "sf_bytes" -> Files.list(sfDir).iterator().asScala.map(Files.size(_)).sum.toString)
}

object SurfaceWorkload {
  /** Scale factor of the surface tables in a run, and in the tests. */
  val Sf = 0.005
  val TinySf = 0.002

  val Sample: Seq[String] = Seq(
    // sub-second, one per family
    "q19_topk_limit", "p01_hash_sample", "m05_raster_gate", "o05_bbox_nodes",
    "s01_ann_bruteforce", "t02_lang_id", "d01_dedup_exact")
}

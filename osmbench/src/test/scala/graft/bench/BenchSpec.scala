package graft.bench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Each workload at tiny size: every named metric is emitted with a unit,
  * the checks pass on the program's real output, and a planted wrong
  * answer (one row dropped from the checked output) makes them fail.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val spec = new ObjectMapper().readTree(Files.readAllBytes(Paths.get("BENCHMARK.json")))
  private def names(key: String) = spec.get(key).elements().asScala.map(_.get("name").asText).toSeq

  private val common = names("end_to_end") ++ names("per_layer") ++
    Seq("failed_ops_ratio", "session_s", "prepare_s", "warmup_s", "op_p50_s", "trace.overhead_s")

  private val OsmQueries = Seq("reassembleWays", "nodesInBbox", "tagUsageByMonth",
    "latestVersionsWindow", "deletedCount", "changesetsWithComment", "changesetsByEditor",
    "changesetsIntersecting", "allGeometries", "wayGeomStats", "expandRelations")

  private val perWorkload = Map(
    "ingest" -> Seq("ingest_mb_per_s", "ingest_entities_per_s", "changesets_per_s",
      "orc_bytes_per_entity", "pbf.plan_s", "pbf.partitions", "pbf.frame_s", "pbf.blobs",
      "pbf.inflate_s", "pbf.bytes_inflated", "pbf.decode_s", "pbf.entities", "pbf.rowbuild_s",
      "pbf.reader_1t_mb_per_s", "pbf.reader_1t_entities_per_s", "orc.write_s", "orc.bytes",
      "xml.changesets_parse_s", "orc.writePlanet_s", "orc.writeChangesets_s"),
    "query" -> (Seq("diff_apply_s", "osc.parse_s", "osc.apply_s", "orc.write_s",
      "tables.load_s", "tables.load_jobs", "entry.build_s", "entry.exec_s",
      "caches.release_s") ++ OsmQueries.map(q => s"osmq.${q}_s")))

  // the ops of each part of a workload; a planted wrong answer must fail one of each
  private val parts = Map(
    "ingest" -> Seq(Seq("planet"), Seq("changesets")),
    "query" -> Seq(OsmQueries :+ "diffApply", SurfaceWorkload.Sample))

  // one work dir for the suite: Spark fixes its local dir once per JVM
  private val work = Files.createTempDirectory(Paths.get("osmbench").toAbsolutePath, "test-work")
  override def afterAll(): Unit = org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)

  private def run(workload: String, trace: Boolean, plant: Boolean): JsonNode =
    new ObjectMapper().readTree(Main.run(workload, seed = 7L, seconds = 0.1, trace = trace,
      work = work, tiny = true, plant = plant, cpus = 2, setupReps = 1, minPasses = 1,
      expected = Some(Paths.get("osmbench/expected/surface.json"))))

  for (w <- Seq("ingest", "query")) {
    test(s"$w: checks pass and every named metric has a value and a unit") {
      val r = run(w, trace = true, plant = false)
      assert(r.get("correct").asBoolean, r.get("per_op").toString)
      assert(r.get("failed").asLong == 0)
      val metrics = r.get("metrics")
      for (m <- common ++ perWorkload(w)) {
        val node = metrics.get(m)
        assert(node != null, s"$m missing")
        assert(node.get("value").isNumber, s"$m has no value")
        assert(node.get("unit").asText.nonEmpty, s"$m has no unit")
      }
      for (k <- Seq("cpus", "heap_max_mb", "seed", "workload"))
        assert(r.get("stamp").has(k), s"stamp lacks $k")
    }

    test(s"$w: a dropped row fails the check") {
      val r = run(w, trace = false, plant = true)
      assert(!r.get("correct").asBoolean)
      assert(r.get("failed").asLong > 0)
      val failedOps = r.get("per_op").fields().asScala
        .filter(_.getValue.get("failed").asLong > 0).map(_.getKey).toSet
      for (ops <- parts(w)) assert(ops.exists(failedOps), s"no op of $ops failed")
    }
  }
}

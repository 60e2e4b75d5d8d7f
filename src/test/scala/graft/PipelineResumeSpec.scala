package graft

import graft.checkpoint.CheckpointStore
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Comparator
import org.apache.spark.sql.functions._

/** Resumability contract (north rule): every stage checkpointed with
  * lineage + counters; a restart skips completed stages and reproduces
  * byte-identical final clusters, also after a stage write that failed
  * part-way. */
class PipelineResumeSpec extends SparkSpec {
  import spark.implicits._

  private def deleteRec(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).sorted(Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
  }

  test("pipeline resumes from checkpoints and reproduces identical clusters") {
    val wd = Files.createTempDirectory("graft_resume").toString
    val cfg = Pipeline.Config("/root/testdata/sf0.001", wd)

    val (t1, a1) = Pipeline.run(spark, cfg)
    val r1 = a1.select($"mention_id", $"cluster_id").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(t1.map(_.name) === Seq("transcripts", "mentions", "tokens",
      "candidates", "assignments", "eval"))

    // second run: every stage must be skipped (manifest fingerprints match)
    val (t2, a2) = Pipeline.run(spark, cfg)
    val r2 = a2.select($"mention_id", $"cluster_id").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(r2 === r1)
    // skipped stages are dramatically cheaper than computed ones
    assert(t2.map(_.seconds).sum < t1.map(_.seconds).sum)

    // kill downstream stages; resume recomputes only those, same result
    deleteRec(s"$wd/assignments")
    deleteRec(s"$wd/eval")
    val (_, a3) = Pipeline.run(spark, cfg)
    val r3 = a3.select($"mention_id", $"cluster_id").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(r3 === r1)

    // config change invalidates exactly the affected suffix
    val cfgB = cfg.copy(clusterer = "cc")
    val (t4, a4) = Pipeline.run(spark, cfgB)
    val recomputed = t4.filter(t => t.name == "assignments" || t.name == "eval")
    assert(recomputed.nonEmpty)

    // crash window: another config's write of the stage dies after the
    // overwrite began; no manifest may still vouch for the old data
    val r4 = a4.select($"mention_id", $"cluster_id").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    val manifest = new String(
      Files.readAllBytes(Paths.get(wd, "assignments", "_manifest.json")),
      StandardCharsets.UTF_8)
    val fpB = "\"input_fingerprint\": \"([0-9a-f]+)\"".r
      .findFirstMatchIn(manifest).get.group(1)
    val store = new CheckpointStore(wd, spark)
    assert(store.isComplete("assignments", fpB))
    val failing = spark.range(0, 100, 1, 4).select(
      when($"id" === 50, raise_error(lit("injected write failure")))
        .otherwise($"id").as("id"))
    intercept[Exception](store.write("assignments", failing, "0123456789abcdef"))
    assert(!store.isComplete("assignments", fpB))
    // rerunning that config recomputes the stage rather than resuming the
    // failed write's remains
    val (_, a5) = Pipeline.run(spark, cfgB)
    assert(store.isComplete("assignments", fpB))
    assert(a5.select($"mention_id", $"cluster_id").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq === r4)
    deleteRec(wd)
  }
}

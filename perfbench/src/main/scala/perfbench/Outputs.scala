package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** What one run produced, reduced to values that must repeat exactly. */
final case class Outcome(
    stageRows: Seq[(String, Long)],
    digest: String,
    f1: Double,
    problems: Seq[String]) {
  def rows(stage: String): Long = stageRows.collectFirst { case (`stage`, r) => r }.getOrElse(-1L)
  /** The values every run of one input must agree on. */
  def signature: (Seq[(String, Long)], String, Double) = (stageRows, digest, f1)
}

object Outputs {

  val Stages: Seq[String] = Seq("transcripts", "mentions", "tokens", "candidates", "assignments", "eval")

  /** Checks the invariants every clustering must keep and reduces the run
    * to an [[Outcome]]. `stageRows` are the rows per stage in stage order.
    * The digest is order-free: each cluster is labelled by its smallest
    * member id, so it depends on the partition of the mentions and not on
    * which member the clusterer picked as seed. */
  def check(spark: SparkSession, stageRows: Seq[(String, Long)], assignments: DataFrame,
      workDir: String): Outcome = {
    val problems = Seq.newBuilder[String]
    if (stageRows.map(_._1) != Stages)
      problems += s"stages ${stageRows.map(_._1).mkString(",")} != ${Stages.mkString(",")}"
    val mentions = stageRows.toMap.getOrElse("mentions", -1L)
    val a = assignments.select(col("mention_id"), col("cluster_id"))
    val label = a.groupBy(col("cluster_id")).agg(min(col("mention_id")).as("label"))
    val c = a.join(label, Seq("cluster_id"), "left")
      .agg(count(lit(1)), countDistinct(col("mention_id")), count(col("cluster_id")),
        expr("bit_xor(xxhash64(mention_id, label))"))
      .collect()(0)
    val (n, distinct, clustered) = (c.getLong(0), c.getLong(1), c.getLong(2))
    if (n != mentions) problems += s"assignments rows $n != mentions rows $mentions"
    if (distinct != n) problems += s"${n - distinct} mentions carry more than one cluster"
    if (clustered != n) problems += s"${n - clustered} mentions have no cluster"
    val f1 = spark.read.parquet(s"$workDir/eval/data").select(col("f1")).collect()
      .headOption.map(_.getDouble(0)).getOrElse(Double.NaN)
    if (f1.isNaN) problems += "eval stage has no f1"
    Outcome(stageRows, f"$n%d-${if (c.isNullAt(3)) 0L else c.getLong(3)}%016x", f1, problems.result())
  }

  /** Fresh-run guard: every stage manifest exists and was written at or
    * after `startMillis` (a resumed stage keeps its old manifest). Returns
    * the stages that were not computed by this run. */
  def staleStages(workDir: String, startMillis: Long, stages: Seq[String] = Stages): Seq[String] =
    stages.filterNot { s =>
      val m = Paths.get(workDir, s, "_manifest.json")
      Files.exists(m) && Files.getLastModifiedTime(m).toMillis >= startMillis - 1000
    }

  def dirBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_: Path)).sum
      finally s.close()
    }
  }

  def deleteDir(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}

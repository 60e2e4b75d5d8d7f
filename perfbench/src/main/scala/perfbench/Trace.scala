package perfbench

import java.util.Properties
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.checkpoint.CheckpointStore
import graft.pipeline._
import graft.synth.Synth
import scala.collection.mutable

/** One span: a call into one layer, timed around the call. Spans of one
  * traced run share `run`; `parent` is the stage whose computation caused
  * the span. */
final case class Span(run: String, layer: String, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task-side totals of the Spark jobs submitted inside one layer's spans. */
final class LayerTotals {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var busyMs = 0L
  var waitMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  var maxTaskMs = 0L
}

/** Attributes every Spark job to the span that submitted it, through a
  * local property the listener reads from the job's own properties (the
  * listener bus delivers events late, so "the current span" at delivery
  * time would be wrong). */
final class LayerListener extends SparkListener {
  val totals: mutable.Map[String, LayerTotals] = mutable.Map.empty
  private val stageLayer = mutable.Map.empty[Int, String]

  private def layerOf(p: Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Property))).getOrElse("unattributed")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = layerOf(e.properties)
    totals.getOrElseUpdate(layer, new LayerTotals).jobs += 1
    e.stageIds.foreach(stageLayer(_) = layer)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals.getOrElseUpdate(stageLayer.getOrElse(e.stageId, "unattributed"), new LayerTotals)
    val info = e.taskInfo
    t.tasks += 1
    if (info.failed || info.killed) t.failedTasks += 1
    t.maxTaskMs = math.max(t.maxTaskMs, info.duration)
    val m = e.taskMetrics
    if (m != null) {
      t.busyMs += m.executorRunTime
      val schedulerDelay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      t.waitMs += m.shuffleReadMetrics.fetchWaitTime + math.max(0L, schedulerDelay)
      t.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
      t.peakExecBytes = math.max(t.peakExecBytes, m.peakExecutionMemory)
    }
  }
}

/** Spans around calls into the layers, kept in memory until [[spans]] is
  * written out at the end of the benchmark. */
final class Tracer(spark: SparkSession, run: String) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  val listener = new LayerListener
  spark.sparkContext.addSparkListener(listener)

  def span[T](layer: String, parent: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.Property, layer)
    val t0 = System.nanoTime()
    try f
    finally {
      buf += Span(run, layer, parent, t0, System.nanoTime())
      sc.setLocalProperty(Tracer.Property, null)
    }
  }

  def spans: Seq[Span] = buf.toSeq

  /** Waits until the listener has seen every event, then detaches it. */
  def close(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }
}

object Tracer {
  val Property = "perfbench.layer"

  /** The layers of the pipeline, in stage order; `checkpoint` and
    * `pipeline` are the store and `graft.Pipeline`'s own jobs. */
  val Layers: Seq[String] = Seq("synth", "canonicalize", "tokenize", "blocking", "cc",
    "greedy", "evaluation", "checkpoint", "pipeline")

  /** Spans of these names are extra probes: they feed single metrics and
    * stay out of the traced total. */
  val Probe = "probe"
  val CheckpointRead = "checkpoint_read"
}

/** Result of one traced run. */
final case class Traced(outcome: Outcome, totalS: Double, pairsEmitted: Long,
    maxComponent: Long, checkpointReadS: Double, ccRows: Long)

object TracedRun {

  /** Calls the public entry points in `Pipeline.run`'s order, with the same
    * fingerprints and `durableDir`s, and persists each stage through
    * `CheckpointStore.write`. Each layer span materializes its output, so
    * the work of a lazy plan is billed to the layer and not to the
    * checkpoint write that follows. After the chain, three probes run
    * outside the traced total: a standalone `ConnectedComponents` call
    * (the `cc` layer; greedy runs its own CC inside its span), the count
    * of pairs blocking scores (`Blocking.scoredPairs`: after its pair
    * dedup, before the threshold), and a full re-read of every checkpoint. */
  def run(spark: SparkSession, tr: Tracer, sfDir: String, workDir: String): Traced = {
    val cfg = Pipeline.Config(sfDir, workDir)
    val store = new CheckpointStore(workDir, spark)
    val rows = mutable.ArrayBuffer.empty[(String, Long)]

    def stage(name: String, fp: String, layer: String)(compute: => DataFrame): DataFrame = {
      val computed = tr.span(layer, name)(compute.localCheckpoint(eager = true))
      val out = tr.span("checkpoint", name)(store.write(name, computed, fp))
      rows += name -> tr.span("pipeline", name)(out.count())
      out
    }

    val fp0 = CheckpointStore.fingerprint("transcripts", cfg.sfDir)
    val transcripts = stage("transcripts", fp0, "synth")(Synth.transcripts(spark, cfg.sfDir))
    val fp1 = CheckpointStore.fingerprint(fp0, "mentions")
    val mentions = stage("mentions", fp1, "canonicalize")(Canonicalize.mentions(transcripts))
    tr.span("pipeline", "mentions")(Canonicalize.assertUniqueIds(mentions))
    val fp2 = CheckpointStore.fingerprint(fp1, "tokens")
    val tokens = stage("tokens", fp2, "tokenize")(Tokenize.tokens(mentions))
    val bcfg = Blocking.Config(cfg.commonMsgTh, cfg.relSimTh, cfg.maxBlockDf)
    val fp3 = CheckpointStore.fingerprint(fp2, "candidates",
      cfg.commonMsgTh.toString, cfg.relSimTh.toString, cfg.maxBlockDf.toString)
    val candidates = stage("candidates", fp3, "blocking")(Blocking.candidates(tokens, bcfg))
    val fp4 = CheckpointStore.fingerprint(fp3, "assignments", cfg.clusterer, cfg.coder)
    val assignments = stage("assignments", fp4, "greedy")(
      GreedyClustering.assignments(mentions, tokens, candidates, cfg.coder,
        durableDir = Some(s"${cfg.workDir}/greedy_loop")))
    val fp5 = CheckpointStore.fingerprint(fp4, "eval")
    stage("eval", fp5, "evaluation")(
      Evaluation.pairwiseF1(assignments, Synth.goldMentions(spark, cfg.sfDir)))
    val chain = tr.spans
    val totalS = chain.map(_.seconds).sum

    val cc = tr.span("cc", "assignments")(ConnectedComponents.assignments(mentions, candidates,
      durableDir = Some(s"${cfg.workDir}/cc_loop")).localCheckpoint(eager = true))
    val (ccRows, maxComponent) = tr.span(Tracer.Probe, "assignments") {
      val r = cc.groupBy(col("component_id")).count()
        .agg(sum(col("count")), max(col("count"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val pairsEmitted = tr.span(Tracer.Probe, "candidates")(Blocking.scoredPairs(tokens, bcfg).count())
    val readT0 = System.nanoTime()
    Outputs.Stages.foreach { s =>
      tr.span(Tracer.CheckpointRead, s)(
        store.read(s).write.format("noop").mode("overwrite").save())
    }
    val readS = (System.nanoTime() - readT0) / 1e9

    val outcome = tr.span(Tracer.Probe, "eval")(
      Outputs.check(spark, rows.toSeq, assignments, workDir))
    Traced(outcome, totalS, pairsEmitted, maxComponent, readS, ccRows)
  }
}

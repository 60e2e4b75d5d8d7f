package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage 5a — DataFrame-based connected components over the candidate
  * graph (the reference's alternative clusterer
  * `connectedCandidatesGuavaGraphs` + `GraphAnalysis.connectedComponents`,
  * logic/MessagePassing.java:118-141, helper/GraphAnalysis.java:17-38 —
  * the paper's "connected component" baseline, and the component pre-pass
  * for greedy consistency clustering).
  *
  * Algorithm: per-partition contraction, then minimum-label propagation.
  * A union-find over each input partition's edges collapses every
  * partition-local component into a star on its smallest id; the stars
  * keep the node set and the components of the input graph, so only the
  * links BETWEEN partitions are left for propagation. The propagation
  * loop sets labels(x) <- min(labels(x), min over neighbors labels(y)),
  * then pointer-jumps, until fixpoint; `localCheckpoint` truncates
  * lineage each round (no recursion in Catalyst). ER candidate graphs
  * after blocking have small components and tiny diameters, so after the
  * contraction the loop usually converges in one to three rounds. Skew
  * (giant components) is handled upstream by the blocking valves and
  * downstream by component-size caps in the greedy stage.
  */
object ConnectedComponents {

  /** edges: (src, dst) undirected pair per surviving candidate (any
    * direction; bigint node ids). Returns (id, component) for every node
    * appearing in edges; component = min node id reachable. An edge with
    * one null endpoint is a self-loop on the other node; an edge with two
    * null endpoints names no node and is dropped.
    *
    * The contraction emits (local root, node) for every node a partition
    * saw, so the result is exact under any partitioning: the union of
    * the stars has the input's connected components. Each propagation
    * round then does min-label propagation over the stars PLUS a
    * pointer-jump (label <- label(label), well-defined because labels
    * only ever take node-id values and only decrease), which halves the
    * remaining label-chain depth — O(log diameter) rounds when the
    * contraction helps little (e.g. a path graph whose edges are spread
    * round-robin), so a 10^6-hop chain converges in ~20 rounds instead of
    * 10^6. Raises instead of silently returning wrong labels if the
    * `maxIter` cap is hit. */
  def run(edges: DataFrame, maxIter: Int = 50,
      durableDir: Option[String] = None, durableEvery: Int = 5): DataFrame = {
    val spark = edges.sparkSession
    // lineage truncation per round: executor-local blocks by default; with
    // `durableDir` the loop state is ALSO persisted to parquet every
    // `durableEvery` rounds — the durable path for long-lived clusters with
    // dynamic allocation, where executor-local checkpoint blocks can be
    // lost (the Pipeline runner passes its stage work dir here).
    def cut(df: DataFrame, round: Int): DataFrame = durableDir match {
      case Some(dir) if round % durableEvery == 0 =>
        val path = s"$dir/cc_labels_r$round"
        df.write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      case _ => df.localCheckpoint()
    }
    // normalize each edge to (min, max) — a one-null edge becomes a
    // self-loop on its other node, a two-null edge names no node — then
    // contract every partition with a union-find keeping the smaller id
    // as root (`contract`); the stars it emits are already normalized.
    // Distinct at half volume, then mirror: normalized rows have
    // src <= dst, reversed ones dst <= src, so overlap is confined to
    // self-loops — whose duplicate rows are harmless under the min()
    // aggregations this loop consists of.
    import spark.implicits._
    val und = edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src").isNotNull)
      .as[(Long, Long)]
      .mapPartitions(contract)
      .toDF("src", "dst")
      .distinct()
    val sym = und
      .union(und.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()

    // seed labels with the FIRST min-label hop folded into initialization
    // (label = min(id, min neighbor) in one aggregation over sym — every
    // node appears as src after symmetrization): round-6 change saving one
    // full propagation round; the fixpoint (min reachable id) is unchanged
    // because any label value is still a reachable node id.
    var labels = sym.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nd"))
      .select(col("id"), least(col("id"), col("nd")).as("label"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = sym
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nbr_label"))
      // carry the pre-round label ("old") through the round instead of
      // re-joining `next` against `labels` afterwards: the convergence
      // check becomes a scan of the just-checkpointed frame (one short
      // isEmpty job) instead of an extra join+shuffle+count job per round
      // (round-6 change; labels are monotonically non-increasing, so
      // "changed" == "label < old" exactly as the removed join computed).
      val prop = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      val next = cut(prop
        .join(prop.select(col("id").as("label"), col("label").as("jump")),
          Seq("label"), "left")
        .select(col("id"),
          coalesce(col("jump"), col("label")).as("label"),
          (coalesce(col("jump"), col("label")) < col("old")).as("changed")),
        iter)
      // single-job convergence check: max(changed) over the checkpointed
      // rows — isEmpty/limit(1) on an EMPTY result escalates through
      // log(partitions) scan batches, one Spark job each, so the converged
      // round paid ~4 jobs for one boolean (round 6, measured via the
      // Bench job counter)
      converged = !next.agg(coalesce(max(col("changed")), lit(false)))
        .collect()(0).getBoolean(0)
      labels = next.select(col("id"), col("label"))
      iter += 1
    }
    if (!converged)
      sys.error(s"ConnectedComponents: not converged after $maxIter rounds " +
        "(component diameter > 2^maxIter is impossible, so this indicates a bug)")
    labels.withColumnRenamed("label", "component")
  }

  /** Union-find over one partition's normalized edges (union by smaller
    * id, path splitting); emits (root, node) for every node seen, so each
    * partition-local component becomes a star on its smallest id. */
  private def contract(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var n = x
      var p = parent.getOrElseUpdate(n, n)
      while (p != n) {
        val gp = parent(p)
        parent.update(n, gp)
        n = p
        p = gp
      }
      n
    }
    it.foreach { case (a, b) =>
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent.update(rb, ra)
      else if (rb < ra) parent.update(ra, rb)
    }
    // keys first: find() rewrites values while it compresses paths
    parent.keys.toArray.iterator.map(n => (find(n), n))
  }

  /** Full assignment for every mention: singletons keep their own id as
    * component; cluster representative = max-weight member of the
    * component (ties broken by min mention_id; reference A-6,
    * MessagePassing.java:138). */
  def assignments(mentions: DataFrame, candidates: DataFrame,
      durableDir: Option[String] = None): DataFrame = {
    // no pre-distinct: run() symmetrizes and distincts anyway, so the
    // extra exchange here was pure overhead (round-6 change, guide §2.4)
    val edges = candidates
      .select(least(col("dst_id"), col("org_id")).as("src"),
        greatest(col("dst_id"), col("org_id")).as("dst"))
    val comp = run(edges, durableDir = durableDir)
    val withComp = mentions
      .join(comp.withColumnRenamed("id", "mention_id"), Seq("mention_id"), "left")
      .withColumn("component_id", coalesce(col("component"), col("mention_id")))
      .drop("component")
    val reps = withComp
      .groupBy(col("component_id"))
      .agg(min_by(col("mention_id"),
        struct((-col("weight")).as("w"), col("mention_id"))).as("cluster_id"))
    withComp.join(reps, "component_id")
      .select(col("mention_id"), col("name"), col("weight"),
        col("component_id"), col("cluster_id"))
  }

  // ---------------------------------------------------------------- oracle

  /** DuckDB CTEs computing the same assignment via a recursive reachability
    * closure (sound for oracle scale; the Spark side is the scalable loop).
    * Append after Blocking.ctes. */
  val ctes: String = ctesOver("candidates")

  /** Same CTE chain parameterized on the (dst_id, org_id) edge source table
    * — reused by the upper-bound oracle over gold-restricted edges. */
  def ctesOver(edgesFrom: String): String =
    s"""cc_edges AS (
      |  SELECT DISTINCT least(dst_id, org_id) AS src,
      |                  greatest(dst_id, org_id) AS dst
      |  FROM $edgesFrom
      |),
      |cc_sym AS (
      |  SELECT src, dst FROM cc_edges
      |  UNION SELECT dst, src FROM cc_edges
      |),
      |cc_reach AS (
      |  WITH RECURSIVE r(a, b) AS (
      |    SELECT src, dst FROM cc_sym
      |    UNION
      |    SELECT r.a, e.dst FROM r JOIN cc_sym e ON r.b = e.src
      |  ) SELECT * FROM r
      |),
      |cc_labels AS (
      |  SELECT a AS id, least(a, min(b)) AS component FROM cc_reach GROUP BY a
      |),
      |assignments_pre AS (
      |  SELECT m.mention_id, m.name, m.weight,
      |         coalesce(l.component, m.mention_id) AS component_id
      |  FROM mentions m LEFT JOIN cc_labels l ON m.mention_id = l.id
      |),
      |cc_reps AS (
      |  SELECT component_id, mention_id AS cluster_id FROM (
      |    SELECT component_id, mention_id,
      |           row_number() OVER (PARTITION BY component_id
      |                              ORDER BY weight DESC, mention_id ASC) AS rn
      |    FROM assignments_pre) WHERE rn = 1
      |),
      |assignments AS (
      |  SELECT a.mention_id, a.name, a.weight, a.component_id, r.cluster_id
      |  FROM assignments_pre a JOIN cc_reps r USING (component_id)
      |)""".stripMargin
}

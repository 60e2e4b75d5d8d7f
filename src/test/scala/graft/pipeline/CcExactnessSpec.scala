package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** ConnectedComponents.run contracts each input partition before it
  * propagates labels, so its result must not depend on how the edges are
  * partitioned. Every layout is compared against a sequential
  * union-find over the same edge list. */
class CcExactnessSpec extends SparkSpec {
  import spark.implicits._

  /** Min reachable id per node, by a sequential union-find. */
  private def oracle(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  private def labels(df: DataFrame): Map[Long, Long] =
    ConnectedComponents.run(df).as[(Long, Long)].collect().toMap

  /** The CcGreedyParitySpec shapes, random sparse graphs over disjoint
    * id ranges (one near Long.MaxValue), plus duplicate, reversed and
    * self-loop edges. */
  private val edges: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(7)
    val shapes =
      (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq ++
        Seq((10L, 11L), (10L, 12L), (10L, 13L), (20L, 21L)) ++
        Seq((31L, 30L), (32L, 31L), (33L, 32L), (34L, 33L))
    def random(base: Long, nodes: Int, edgeCnt: Int) =
      Seq.fill(edgeCnt)((base + rnd.nextInt(nodes), base + rnd.nextInt(nodes)))
    val randoms = random(1000L, 400, 300) ++ random(5000L, 60, 200) ++
      random(Long.MaxValue - 500L, 300, 250)
    val base = shapes ++ randoms
    base ++ base.take(40) ++ base.takeRight(40).map(_.swap) ++
      Seq((40L, 40L), (3L, 3L), (1000L, 1000L))
  }

  test("CC labels equal a union-find oracle under every partition layout") {
    val expected = oracle(edges)
    val df = edges.toDF("src", "dst")
    for (n <- Seq(1, 3, 16)) {
      withClue(s"round-robin over $n: ")(
        assert(labels(df.repartition(n)) === expected))
      withClue(s"hash over $n: ")(
        assert(labels(df.repartition(n, $"src")) === expected))
    }
  }

  test("CC null endpoints: one null is a self-loop, two nulls name no node") {
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (5L, null), (null, 7L), (null, null), (7L, 8L))
      .toDF("src", "dst")
    assert(labels(df) === Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 7L -> 7L, 8L -> 7L))
  }
}

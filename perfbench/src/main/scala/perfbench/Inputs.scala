package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession

/** Seeded input generation. Every workload is a set of `c_custkey` values
  * written as `customer.parquet`, the one column `graft.synth.Synth` reads;
  * the program under test sees nothing else of the benchmark.
  */
object Inputs {

  /** `Synth` builds `conv_id` as `lpad(k * 4 + m, 8)`: from this key on the
    * id is cut short and distinct conversations silently merge. */
  val KeyLimit: Long = 25000000L

  /** The last-name stems (indices into `NamePools.last`) the hub workload
    * concentrates on. */
  val HubStems: Set[Long] = Set(0L, 1L, 2L, 3L)

  /** The integer hash `Synth` derives every name-pool index from. */
  def nameHash(k: Long): Long = (k * 2654435761L) % 2147483647L

  /** `n` distinct keys drawn uniformly from [1, KeyLimit). */
  def natural(seed: Long, n: Int): Array[Long] =
    distinctKeys(rng(seed, 1), n)(_ => true)

  /** `n` distinct keys whose last name is one of [[HubStems]] with both
    * suffix slots empty, so a few last-name tokens are shared by every
    * mention and the candidate graph forms one giant component. */
  def hub(seed: Long, n: Int): Array[Long] =
    distinctKeys(rng(seed, 2), n) { k =>
      val h = nameHash(k)
      HubStems.contains((h / 800) % 60) && (h / 48000) % 10 == 0 && (h / 480000) % 10 == 0
    }

  /** A generator per (seed, workload); `split` mixes the seed, so nearby
    * seeds give unrelated streams. */
  private def rng(seed: Long, workload: Long): SplittableRandom =
    new SplittableRandom(seed * 31 + workload).split()

  private def distinctKeys(rnd: SplittableRandom, n: Int)(keep: Long => Boolean): Array[Long] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (out.size < n) {
      val k = 1L + rnd.nextLong(KeyLimit - 1)
      if (keep(k)) out += k
    }
    out.toArray
  }

  /** Writes `<dir>/customer.parquet` with the single int64 column
    * `c_custkey` and returns `dir`, the `sfDir` a `Pipeline.Config` takes. */
  def write(spark: SparkSession, keys: Array[Long], dir: String): String = {
    val bad = keys.filter(k => k < 1 || k >= KeyLimit)
    require(bad.isEmpty,
      s"keys outside [1, $KeyLimit) would corrupt Synth's conv_id: ${bad.take(5).mkString(", ")}")
    import spark.implicits._
    keys.toSeq.toDF("c_custkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    dir
  }
}

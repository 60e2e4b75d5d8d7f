package perfbench

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper

/** The outputs stored for each workload at [[Main.DefaultSeed]], in
  * `perfbench/expected.json`. A change that alters them alters what the
  * pipeline computes, so the benchmark refuses it as incorrect. */
object Expected {
  val File = "perfbench/expected.json"

  def compare(workload: String, o: Outcome): Seq[String] = {
    val p = Paths.get(File)
    if (!Files.exists(p)) return Seq(s"$File is missing")
    val node = new ObjectMapper().readTree(p.toFile).get(workload)
    if (node == null) return Seq(s"$File has no entry for $workload")
    if (node.get("seed").asLong != Main.DefaultSeed)
      return Seq(s"$File holds $workload values for seed ${node.get("seed")}, not ${Main.DefaultSeed}")
    val want = (node.get("digest").asText, node.get("candidates").asLong, node.get("f1").asDouble)
    val got = (o.digest, o.rows("candidates"), o.f1)
    if (want == got) Nil
    else Seq(s"$workload at seed ${Main.DefaultSeed}: (digest, candidates, f1) = $got, stored $want")
  }
}

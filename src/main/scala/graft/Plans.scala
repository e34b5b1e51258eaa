package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** Plan dumper for the optimization rounds: writes
  * `.explain("formatted")` of each declared query, and of one pre-cut
  * round of each iterative fixpoint, to `<outDir>/<name>_<tag>.txt`, so
  * plan-shape claims in OPTIMIZATION_r*.md are checkable without
  * running Spark.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> <tag>
  * (SPARK_GRAFT_ONLY=q1,q2,... dumps only those, see Harness.select).
  *
  * The session is Bench's (Harness.session) so the dumped initial plans
  * are the ones the bench executes. Note: AQE plans print
  * `isFinalPlan=false` — these are pre-execution shapes; Exchange
  * counts and join strategies at this stage are what the pins assert.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag) = args
    // Pre-cut ROUND plans for the iterative fixpoints (r18, verdict
    // #8): the registered queries' final plans sit past the per-round
    // lineage cuts, so the one-exchange round shape was narrated, not
    // committed. These dump ONE representative round each, uncut.
    val rounds: Map[String, (SparkSession, String) => DataFrame] = Map(
      "graph_label_prop_round" -> (graft.operators.Graph.labelPropRoundFor _),
      "graph_pagerank_round" -> (graft.operators.Graph.pagerankRoundFor _),
      "dedup_cluster_round" -> (graft.operators.Dedup.ccRoundFor _))
    val all = SparkEntry.queries ++ rounds
    val keep = Harness.select(all.keySet)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    all.filter(e => keep(e._1)).foreach { case (name, fn) =>
      try {
        val txt = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

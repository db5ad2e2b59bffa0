package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Session, SparkEntry}

/** Dev harness: dump `.explain("formatted")` for selected queries to
  * <outDir>/<name>_<tag>.txt without executing them. Not part of the
  * driver contract. Usage:
  *   runMain graft.tools.Plans <sfDir> <outDir> <tag> <name...|all>
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names =
      if (args.length == 4 && args(3) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args.drop(3).toSeq
    val spark = Session()
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      val nEx = "Exchange".r.findAllIn(plan).size -
        "ReusedExchange".r.findAllIn(plan).size
      val nScan = "Scan parquet".r.findAllIn(plan).size
      val nSmj = "SortMergeJoin".r.findAllIn(plan).size
      val nBhj = "BroadcastHashJoin".r.findAllIn(plan).size
      println(s"PLAN $name exchanges=$nEx scans=$nScan smj=$nSmj bhj=$nBhj")
      // Drop this query's seam registrations so the NEXT dump's plan
      // can't pick up a cross-query InMemoryRelation substitution.
      graft.Seams.release()
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession every entrypoint (`Bench`, `Verify` and the
  * `graft.tools` mains) runs on, so their settings cannot drift apart.
  *
  *  - `SPARK_GRAFT_CPUS` (default 4): `local[cpus]`, and as many
  *    shuffle partitions.
  *  - `SPARK_GRAFT_CHECKPOINT_DIR` (unset by default): the reliable
  *    checkpoint dir, which turns every [[Seams]] seam and cut into a
  *    reliable checkpoint.
  *
  * The session time zone is UTC, because the DuckDB oracle compares
  * naive timestamp walls, which equal the UTC walls. The UI is off and
  * the log level is WARN. Any other `spark.*` setting passes the
  * standard way, as a `-D` system property.
  */
object Session {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)
    spark
  }
}

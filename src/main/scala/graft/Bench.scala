package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Benchmark entrypoint: times every registered query at
  * `SPARK_GRAFT_SF_DIR` and ends stdout with one JSON contract line.
  * Usage: runMain graft.Bench [filter] — the optional filter is
  * [[SparkEntry.select]]'s, for timing a few named queries. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val selected = SparkEntry.select(args.toSeq)
    val spark = Session()
    // GC/heap telemetry (stderr + bench_full artifact): the r16 driver
    // run doubled on whole-JVM stalls in untouched queries; these
    // counters say per query how much GC time elapsed and how much
    // block-manager storage stayed resident (seam-leak detector).
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    def storageMB: Long = {
      val s = spark.sparkContext.getRDDStorageInfo
      s.map(_.memSize).sum / (1024 * 1024)
    }
    def heapMB: Long = {
      val r = Runtime.getRuntime
      (r.totalMemory - r.freeMemory) / (1024 * 1024)
    }
    // Warm codegen + JIT on the smallest SF (same plan shapes, cheap
    // data) so timings below measure steady-state, not first-call
    // compilation. Seams are released per query — warmup must not
    // carry storage into the measured window.
    val warmDir = "/root/testdata/sf0.001"
    selected.foreach { case (_, fn) =>
      try fn(spark, warmDir).count()
      catch { case NonFatal(_) => () }
      Seams.release()
    }
    spark.catalog.clearCache()
    System.gc()
    // Steady-state seconds: best of `reps` measured passes per query,
    // so a stray GC pause or scheduler hiccup in one pass doesn't
    // masquerade as query cost.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // One rep's seconds. Free this rep's seam/cut storage OUTSIDE the
    // timed window: each rep rebuilds and re-materializes its own
    // seams, while storage stays bounded by one query's working set.
    def timed(fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      finally Seams.release()
    }
    // Sorted execution order: Map iteration order shifts whenever the
    // key set changes, which moves queries into different GC/contention
    // neighborhoods across rounds and makes per-query timings
    // incomparable round-over-round.
    var qIdx = 0
    val results = selected.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val gc0 = gcMillis
      // A query that throws in any rep is never timed: it stays out of
      // `queries` and `total`, is named on stderr, and fails the run.
      val best =
        try Some((1 to reps).map(_ => timed(fn)).min)
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name FAILED: " +
            Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.take(4).mkString(" | "))
          None
        }
      qIdx += 1
      // Periodic full GC outside the timers: lets the ContextCleaner
      // reap broadcast/shuffle refs from finished queries instead of
      // deferring one giant stall into a later query's timed window.
      if (qIdx % 16 == 0) System.gc()
      best.map { b =>
        System.err.println(
          f"[bench] $name%-28s ${b}%8.3f s  gc+${gcMillis - gc0}%4d ms  " +
          f"storage ${storageMB}%5d MB  heap ${heapMB}%5d MB")
        name -> b
      }
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    // Human-readable slowest-queries digest → stderr (stdout is
    // reserved for the one machine-readable contract line below).
    val desc = results.sortBy(-_._2).take(40)
    def r3(v: Double): String = (math.round(v * 1000) / 1000.0).toString
    System.err.println("[bench] total " + r3(total) + " s over " +
      results.size + " queries; slowest: " +
      desc.map { case (k, v) => s"$k=${r3(v)}" }.mkString(", "))
    // Persist the COMPLETE per-query artifact: commit it once per
    // round. Default under java.io.tmpdir so an ad-hoc run never
    // silently clobbers the committed per-round artifact — export
    // SPARK_GRAFT_BENCH_OUT=bench_full.json (repo root) for the
    // round-final run.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File(sys.props("java.io.tmpdir"), "bench_full.json").getPath)
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
      System.err.println(s"[bench] full artifact: $out")
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    // Quiet shutdown, THEN the contract line: the driver parses the
    // bench's stdout as one JSON line of the original schema
    // {"metric","value","unit","queries":<every timed query>,"sf"} — it
    // must be unprefixed (build.sbt forks with StdoutOutput, so nothing
    // rewrites it as `[info] ...`) and be the final stdout line
    // (spark.stop() runs first; Spark logs go to stderr). The finally
    // prints it even if the shutdown throws.
    try {
      spark.sparkContext.setLogLevel("ERROR")
      spark.stop()
    } finally {
      println(line)
      System.out.flush()
    }
    val failed = selected.keySet -- results.map(_._1)
    if (failed.nonEmpty) {
      System.err.println(s"[bench] FAILED ${failed.size}/${selected.size} " +
        "queries: " + failed.toSeq.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}

package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.Seams

/** One benchmark run inside one JVM: build the session, set up
  * [[Main.SetupReps]] times, measure ops for `--seconds`, gather what the
  * checks need, and write everything to `--result` as JSON. The
  * Python front end (`perfbench/run.py`) turns that into metrics.
  *
  * Usage: graft.perfbench.Main --workload W --seed N --seconds S
  *   --trace 0|1 --inputs DIR --work DIR --result FILE [--spans FILE]
  */
object Main {
  /** Set-up rounds per run; `setup_s` takes their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark, trace)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val wl = Workload(workload, spark, rec, opts("inputs"), work, seed)
    val setup = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      wl.setUp(r)
      (System.nanoTime() - t0) / 1e9
    }
    Seams.release()
    System.gc()
    rec.startWindow()
    val t0 = System.nanoTime()
    wl.run(t0 + (seconds * 1e9).toLong)
    val windowS = (System.nanoTime() - t0) / 1e9
    val heapPeakMb = rec.oldGenPeakMb
    rec.finish()
    val checks =
      try wl.check()
      catch { case NonFatal(e) => Map("check_error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}") }

    val spans = rec.allSpans
    val spansByOp = spans.groupBy(_.op)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "session_s" -> sessionS, "setup_reps_s" -> setup, "window_s" -> windowS,
      "heap_peak_mb" -> heapPeakMb, "checks" -> checks,
      "ops" -> rec.ops.map(o => opJson(o, spansByOp.getOrElse(o.id, Nil))))
    val mapper = new ObjectMapper()
    mapper.writeValue(new File(opts("result")), toJava(result))
    opts.get("spans").filter(_ => trace).foreach { path =>
      mapper.writeValue(new File(path), toJava(Map(
        "workload" -> workload, "seed" -> seed,
        "spans" -> Spans.withParents(spans).zipWithIndex.map { case ((s, parent), i) =>
          Map("id" -> i, "name" -> s.name, "op" -> s.op,
            "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
            "parent" -> parent.getOrElse(null))
        })))
    }
    // the result is on disk: a failing stop cannot lose it
    try spark.stop()
    catch { case NonFatal(e) => System.err.println(s"[perfbench] spark.stop() threw: $e") }
  }

  private def opJson(o: OpStats, spans: Seq[Span]): Map[String, Any] = {
    val a = o.startNs / 1000000L
    val b = o.endNs / 1000000L
    Map(
      "id" -> o.id, "kind" -> o.kind, "name" -> o.name, "items" -> o.items,
      "ok" -> o.ok, "error" -> o.error, "seconds" -> o.seconds, "rows" -> o.rows,
      "gc_s" -> o.gcMs / 1000.0, "held_mb" -> o.heldMb,
      "resident_mb" -> o.residentMb,
      "call_s" -> o.callNs.map { case (k, v) => k -> v / 1e9 }.toMap,
      "call_jobs" -> o.callJobs.toMap,
      "jobs" -> o.jobs, "tasks" -> o.tasks,
      "executor_cpu_s" -> o.executorCpuNs / 1e9,
      "shuffle_write_bytes" -> o.shuffleWriteBytes, "spill_bytes" -> o.spillBytes,
      "output_bytes" -> o.outputBytes, "input_bytes" -> o.inputBytes,
      "input_rows" -> o.inputRows,
      "driver_only_s" -> math.max(0.0, o.seconds - Spans.covered(o.jobIntervals.toSeq, a, b)),
      "analysis_s" -> o.phaseMs("analysis") / 1000.0,
      "optimization_s" -> o.phaseMs("optimization") / 1000.0,
      "planning_s" -> o.phaseMs("planning") / 1000.0,
      "traced" -> o.traced, "spans" -> spans.size,
      "self_s" -> (if (o.traced) Spans.selfByLayer(spans) else Map.empty[String, Double]))
  }

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case other => other
  }
}

/** Span arithmetic for the traced run. */
object Spans {
  /** Seconds of the op's window `[a, b]` (nanoTime millis) during which
    * some job ran. The job intervals are epoch millis.
    */
  def covered(jobs: Seq[(Long, Long)], a: Long, b: Long): Double = {
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
    val (lo, hi) = (a + offsetMs, b + offsetMs)
    union(jobs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }) / 1000.0
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  private def isCall(s: Span) = !s.name.startsWith("spark.")
  private def inside(c: Span, s: Span) =
    (s ne c) && s.startNs >= c.startNs && s.startNs <= c.endNs

  /** Self time of each layer's calls: a call's wall time minus the
    * time covered by its direct children (nested calls and the jobs
    * that started in it but not in a nested call). Stages are inside
    * jobs and do not count again.
    */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val calls = spans.filter(isCall)
    val jobs = spans.filter(_.name == "spark.job")
    calls.map { c =>
      val nested = calls.filter(s => inside(c, s) && s.endNs <= c.endNs)
      val direct = nested.filterNot(n => nested.exists(m => inside(m, n) && n.endNs <= m.endNs))
      val myJobs = jobs.filter(j => inside(c, j) && !nested.exists(n => inside(n, j)))
      val covered = union((direct ++ myJobs).map(s =>
        (s.startNs, math.min(s.endNs, c.endNs))).filter { case (x, y) => y > x })
      c.name.takeWhile(_ != '.') -> (c.endNs - c.startNs - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Each span with the index of its innermost enclosing span of the
    * same op (ties in extent go to the earlier span).
    */
  def withParents(spans: Seq[Span]): Seq[(Span, Option[Int])] = {
    val indexed = spans.toIndexedSeq.zipWithIndex
    indexed.map { case (s, i) =>
      val enclosing = indexed.filter { case (p, j) => j != i && p.op == s.op &&
        p.startNs <= s.startNs && s.endNs <= p.endNs &&
        !(p.startNs == s.startNs && p.endNs == s.endNs && j > i) }
      s -> (if (enclosing.isEmpty) None
            else Some(enclosing.minBy { case (p, _) => p.endNs - p.startNs }._2))
    }
  }
}

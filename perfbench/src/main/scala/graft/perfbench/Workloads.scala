package graft.perfbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{GraftEngine, Seams, SparkEntry}
import graft.config.EngineConfig
import graft.operators.{Dedup, LlmQueries, Router}
import graft.plans.PipelineSinks
import graft.streaming.{ChangeStreamJob, CurationJob, KafkaLog, MessageConsumer}

/** One benchmark workload. [[setUp]] is one repetition of the set-up
  * (stage the generated inputs, warm up on its own output dirs);
  * [[run]] is the measured window of closed-loop ops; [[check]]
  * gathers, after the window, what the independent reference checks
  * compare.
  */
trait Workload {
  def setUp(rep: Int): Unit
  def run(until: Long): Unit
  def check(): Map[String, Any]
}

object Workload {
  /** Partitions of the modeled Kafka log (= cores = shuffle partitions). */
  val LogPartitions = 4

  def apply(name: String, spark: SparkSession, rec: Recorder,
            inputs: String, work: String, seed: Long): Workload = name match {
    case "cdc_snapshot" => new CdcSnapshot(spark, rec, inputs, work, seed)
    case "cdc_tail" => new CdcTail(spark, rec, inputs, work)
    case "curation_daemon" => new CurationDaemon(spark, rec, inputs, work)
    case "query_mix" => new QueryMix(spark, rec, inputs, work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new File(path))
  }

  def manifestInt(inputs: String, key: String): Long = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(s"$inputs/manifest.json"))
    val n = if (m.has(key)) m.get(key) else m.get("tables").get(key)
    n.asLong()
  }
}

/** route81's initial sync: direct reads of three namespaces, one with
  * a `direct=true` `$match` pipeline, routed by producer maps under a
  * topic prefix, appended to a fresh topic log per snapshot.
  */
final class CdcSnapshot(spark: SparkSession, rec: Recorder,
                        inputs: String, work: String, seed: Long) extends Workload {
  private val cfg = EngineConfig.fromJson(
    """{"direct-read-namespaces": ["test.lineitem", "test.orders", "test.customer"],
      |"topic-name-prefix": "graft",
      |"producer-map": [{"mongo-namespace": "test.orders", "kafka-topic": "orders-topic"},
      |                 {"mongo-namespace": "test", "kafka-topic": "firehose"}],
      |"pipeline": [{"namespace": "test.orders", "direct": true,
      |  "stages": "[{\"$match\": {\"o_totalprice\": {\"$gt\": 100000.0}}}]"}]}"""
      .stripMargin)
  private val sourceDocs = Seq("lineitem", "orders", "customer")
    .map(Workload.manifestInt(inputs, _)).sum
  private var topicCounts = Vector.empty[Map[String, Long]]
  private var samples = Vector.empty[Seq[Map[String, String]]]

  private def snapshot(logDir: String): Unit = {
    val msgs = rec.call("plans.build")(GraftEngine.allDirectReads(spark, cfg, inputs))
      // a direct read has no op-log sequence: scan order is send order
      .withColumn("seq", monotonically_increasing_id())
    rec.call("streaming.append")(
      KafkaLog.appendTo(spark, logDir, msgs, Workload.LogPartitions, "seq"))
  }

  def setUp(rep: Int): Unit = {
    val dir = s"$work/warm$rep"
    snapshot(dir)
    Workload.delete(dir)
  }

  def run(until: Long): Unit = {
    var i = 0
    while (System.nanoTime() < until) {
      val dir = s"$work/snap$i"
      val op = rec.op("snapshot", s"snapshot$i", sourceDocs)(snapshot(dir))()
      // outside the op: what each snapshot delivered per topic, and a
      // seeded sample of its messages to decode against the sources
      val log = if (op.ok) Some(spark.read.schema(KafkaLog.recordSchema).parquet(dir)) else None
      topicCounts :+= log.map(_.groupBy("topic").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap).getOrElse(Map.empty)
      samples :+= log.map(_.sample(0.002, seed + i).select("key", "value").collect()
        .map(r => Map("key" -> r.getString(0), "value" -> r.getString(1))).toSeq)
        .getOrElse(Nil)
      Workload.delete(dir)
      i += 1
    }
  }

  def check(): Map[String, Any] =
    Map("topic_counts" -> topicCounts, "samples" -> samples)
}

/** route81's steady state as one closed-loop daemon: each micro-batch
  * is produced to the topic log, consumed under `AvailableNow`, and
  * bulk-applied (keyed merge + delete anti-join) to a live parquet
  * target before the next batch starts.
  */
final class CdcTail(spark: SparkSession, rec: Recorder,
                    inputs: String, work: String) extends Workload {
  private val batchOps = Workload.manifestInt(inputs, "batch_ops")
  private val batches = Workload.manifestInt(inputs, "batches").toInt
  // the JIT is still warming after a few batches; three per round
  // let the window start on the flat part of the curve
  private val warmBatches = 3
  private lazy val oplog = spark.read.parquet(s"$inputs/oplog.parquet").cache()
  private var applied = 0
  private val live = s"$work/live"

  private def batch(b: Int): DataFrame =
    oplog.filter(col("event_id") >= b * batchOps && col("event_id") < (b + 1) * batchOps)

  private def step(dir: String, b: Int): Unit = {
    val (logDir, ckpt, target) = (s"$dir/log", s"$dir/ckpt", s"$dir/target")
    val msgs = rec.call("streaming.produce")(ChangeStreamJob.produce(batch(b),
      maps = Seq(Router.ProducerMap("test", "events-topic")), topicPrefix = "g"))
    rec.call("streaming.append")(
      KafkaLog.appendTo(spark, logDir, msgs, Workload.LogPartitions, "seq"))
    rec.call("streaming.consume") {
      val classified = MessageConsumer.classify(
        KafkaLog.subscribe(spark, logDir).filter(col("topic") === "g.events-topic"))
      classified.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((mb: DataFrame, _: Long) => rec.call("plans.sink")(sink(mb, target)))
        .start()
        .awaitTermination()
    }
  }

  /** Fold the micro-batch to each key's last action, then merge the
    * upserts and anti-join the deletes into the live target.
    */
  private def sink(mb: DataFrame, target: String): Unit = {
    val last = mb.groupBy(col("target_id"))
      .agg(max_by(struct(col("action"), col("__root").as("root")), col("offset")).as("l"))
    val ups = last.filter(col("l.action") === "upsert").select(
      col("l.root.user_id.$numberLong").cast("long").as("user_id"),
      col("l.root.value.$numberDouble").cast("double").as("value"),
      col("l.root.props").as("props"))
    val dels = last.filter(col("l.action") === "delete")
      .select(col("target_id").cast("long").as("user_id"))
    val exists = new File(target).exists()
    val current = if (exists) spark.read.parquet(target) else ups.limit(0)
    val merged = PipelineSinks.merge(current, ups, "user_id")
      .join(dels, Seq("user_id"), "left_anti")
    PipelineSinks.outToParquet(spark, merged, target)
  }

  def setUp(rep: Int): Unit = {
    oplog.count()
    val dir = s"$work/warm$rep"
    (0 until warmBatches).foreach(step(dir, _))
    Workload.delete(dir)
  }

  def run(until: Long): Unit =
    while (System.nanoTime() < until && applied < batches) {
      val b = applied
      rec.op("micro_batch", s"batch$b", batchOps)(step(live, b))()
      applied += 1
    }

  def check(): Map[String, Any] =
    Map("batches_applied" -> applied, "target" -> s"$live/target")
}

/** The LLM-curation daemon: `CurationJob.applyBatch` with the daemon
  * sweep's full gate stack, one seeded batch of documents per op,
  * against standing indexes that grow over the run.
  */
final class CurationDaemon(spark: SparkSession, rec: Recorder,
                           inputs: String, work: String) extends Workload {
  private val batches = Workload.manifestInt(inputs, "batches").toInt
  private val warm = 3
  private lazy val docs = spark.read.parquet(s"$inputs/curation.parquet").cache()
  private lazy val gates = {
    val cents = docs.filter(col("embedding").isNotNull).orderBy("doc_id").limit(8)
      .collect().toSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](r.fieldIndex("embedding"))) }
    (CurationJob.ClassifierGate(LlmQueries.clfWeights, 50000L, 0.5),
      CurationJob.SemanticGate("embedding", 0.9, cents))
  }
  private val live = s"$work/corpus"
  private var applied = 0

  private def apply(dir: String, b: Int, batchId: Long): Unit = {
    val (clf, sem) = gates
    val batch = docs.filter(col("batch") === b).select("doc_id", "text", "embedding")
    rec.call("streaming.curation")(CurationJob.applyBatch(batch, dir, "doc_id", "text",
      batchId = batchId, compactEvery = 4, fuzzy = true, markup = true,
      classifier = Some(clf), spanTrim = true, semantic = Some(sem), knnK = 3,
      searchStats = true))
  }

  def setUp(rep: Int): Unit = {
    docs.count()
    gates
    // warm up on the batches the window reaches last
    val dir = s"$work/warm$rep"
    apply(dir, batches - 1 - rep, 0L)
    Seams.release()
    Workload.delete(dir)
  }

  def run(until: Long): Unit =
    while (System.nanoTime() < until && applied < batches - warm) {
      val b = applied
      val n = docs.filter(col("batch") === b).count()
      rec.op("curation_batch", s"batch$b", n)(apply(live, b, b.toLong))(
        rec.call("seams.release")(Seams.release()))
      applied += 1
    }

  /** The daemon sweep's cheap invariants over the final corpus. */
  def check(): Map[String, Any] = {
    if (applied == 0) return Map("batches_applied" -> 0)
    def read(sub: String) = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$live/$sub")
    val corpus = read("data")
    val rows = corpus.count()
    val distinct = corpus.select("doc_id").distinct().count()
    val fpCovers = Dedup.fingerprintIndex(corpus, "text")
      .except(read("index").distinct()).isEmpty
    Map("batches_applied" -> applied, "corpus_rows" -> rows,
      "corpus_distinct_ids" -> distinct, "fp_index_covers_corpus" -> fpCovers,
      "corpus" -> s"$live/data")
  }
}

/** Registered `SparkEntry.queries`, construction and `count()` timed
  * apart, `Seams.release()` outside the timer; whole passes over the
  * list, each pass in its own seeded order so that no one order (which
  * query warms up which) decides a run.
  */
final class QueryMix(spark: SparkSession, rec: Recorder, inputs: String,
                     work: String, seed: Long) extends Workload {
  private val rnd = new scala.util.Random(seed)
  private def order: Seq[String] = rnd.shuffle(QueryMix.names)
  private val outDir = s"$work/query_out"

  private def build(name: String): DataFrame =
    rec.call(if (name.startsWith("pipe_")) "plans.build" else "operators.build")(
      SparkEntry.queries(name)(spark, inputs))

  /** [[QueryMix.warmPasses]] passes; the first pass of rep 0 writes
    * every result for the oracle compare, the others count. A query
    * that throws here leaves no result, which the compare reports; its
    * measured ops throw and count as failed.
    */
  def setUp(rep: Int): Unit = for (pass <- 0 until QueryMix.warmPasses; name <- order) {
    try {
      if (rep == 0 && pass == 0) build(name).write.mode("overwrite").parquet(s"$outDir/$name")
      else build(name).count()
    } catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] set-up of $name failed: $e")
    }
    Seams.release()
  }

  /** Whole passes; in a traced run every other pass keeps spans, so
    * each query is seen both traced and untraced.
    */
  def run(until: Long): Unit = {
    var pass = 0
    while (System.nanoTime() < until) {
      order.foreach { name =>
        var rows = -1L
        val op = rec.op("query", name, 1, traced = pass % 2 == 0) {
          val df = build(name)
          rows = rec.call("operators.action")(df.count())
        }(rec.call("seams.release")(Seams.release()))
        op.rows = rows
      }
      pass += 1
    }
  }

  def check(): Map[String, Any] = Map("query_out" -> outDir,
    "oracle_sql" -> QueryMix.names.map(n => n -> SparkEntry.oracleSql(n)).toMap)
}

object QueryMix {
  /** `$`-pipeline stages, a MinHash-LSH dedup kernel whose band-key
    * table is a reuse seam (so every pass registers a seam and
    * releases it), TPC-H pricing and an events funnel. The heaviest
    * construction-time queries of ROADMAP open item 1, and the
    * similarity kernels (`sim_topk_ivf` alone costs 1.2-1.4 s), do not
    * fit a run.
    */
  val names: Seq[String] = Seq(
    "dedup_minhash_lsh", "pipe_match", "pipe_group", "q1_pricing", "events_funnel")

  /** Passes per set-up round. Driver-side (Catalyst) code keeps getting
    * faster for about ten passes; the window starts after nine.
    */
  val warmPasses = 3
}

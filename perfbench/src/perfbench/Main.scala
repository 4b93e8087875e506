package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables}
import graft.functions.GeoFunctions
import graft.operators.Dedup
import graft.operators.Indexers.{ChannelIndex, EventIndex}
import graft.sources.{Ingest, ParquetStore}
import graft.streaming.EventStreams

/** JVM side of the benchmark: runs one workload against `graft.*` for a
  * fixed window and writes raw per-op records; perfbench/run.py turns them
  * into metrics and checks the outputs in DuckDB.
  *
  * Usage: perfbench.Main --workload W --input DIR --work DIR --out DIR
  *          --seconds S --trace 0|1
  */
object Main {
  val CurationKeys = Seq("t37_span_removal", "d03_minhash_lsh", "d11_dedup_clusters",
    "t32_bpe_vocab", "t38_classifier_train", "d10_embed_ivf_trained")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    val run = new Run(spark, a("input"), work, a("out"), a("trace") == "1",
      (a("seconds").toDouble * 1e9).toLong)
    try a("workload") match {
      case "curation_batch" => run.curationBatch()
      case "ingest_upsert" => run.ingestUpsert()
      case other => throw new IllegalArgumentException(s"workload $other")
    } finally {
      run.writeOutputs()
      spark.stop()
    }
  }
}

/** Marks the end of an op's build phase (the call that returns the
  * DataFrame); the rest of the op is its execution.
  */
final class Stopwatch {
  val startMs: Long = System.currentTimeMillis
  val t0: Long = System.nanoTime
  var built: Long = -1L
  def markBuilt(): Unit = built = System.nanoTime
}

final class Run(spark: SparkSession, input: String, work: String, out: String,
    trace: Boolean, windowNs: Long) {
  private val tracer = if (trace) Some(new Tracer(spark)) else None
  private val ops = mutable.ArrayBuffer.empty[String]
  private val summary = mutable.LinkedHashMap.empty[String, Any]
  private var firstOpMs = -1L
  private var windowStart = 0L
  private var gcAtStart = 0L

  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private def startWindow(): Unit = {
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    gcAtStart = gcMs
    windowStart = System.nanoTime
  }
  /** Whether another commit cycle that takes as long as the previous one,
    * `lastNs`, still ends inside the window. The first cycle always starts.
    */
  private def fits(lastNs: Long): Boolean = System.nanoTime - windowStart + lastNs <= windowNs

  private def unpersistAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Time one op. `body` calls `markBuilt` once the DataFrame exists (an
    * op that builds none is all execution) and returns the result row
    * count (-1 when the op returns no rows).
    */
  private def op(i: Int, kind: String, key: String, pass: Int, traced: Boolean)(
      body: Stopwatch => Long): Boolean = {
    if (firstOpMs < 0) firstOpMs = System.currentTimeMillis
    def go(): (Stopwatch, Long, Long, Option[String]) = {
      val sw = new Stopwatch
      val res = try Right(body(sw)) catch { case e: Exception => Left(e) }
      val t2 = System.nanoTime
      res match {
        case Right(rows) => (sw, t2, rows, None)
        case Left(e) => (sw, t2, -1L, Some(s"${e.getClass.getName}: ${e.getMessage}"))
      }
    }
    val ((sw, t2, rows, err), layers) = tracer.filter(_ => traced) match {
      case Some(t) => val (r, l) = t.traced(i)(go()); (r, Some(l))
      case None => (go(), None)
    }
    val built = if (sw.built < 0) sw.t0 else sw.built
    val wallMs = (t2 - sw.t0) / 1e6
    tracer.filter(_ => traced).foreach(_.opSpan(i, sw.startMs, sw.startMs + math.round(wallMs)))
    err.foreach(e => System.err.println(s"[perfbench] op $i $kind $key failed: $e"))
    ops += Json.obj("i" -> i, "kind" -> kind, "key" -> key, "pass" -> pass,
      "traced" -> layers.isDefined, "ok" -> err.isEmpty, "error" -> err,
      "start_ms" -> sw.startMs, "wall_ms" -> wallMs,
      "build_ms" -> (built - sw.t0) / 1e6, "exec_ms" -> (t2 - built) / 1e6,
      "rows" -> rows, "layers" -> layers.map(l => Json.Raw(l.toJson)))
    err.isEmpty
  }

  private def readJson(path: String): java.util.Map[String, Object] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new File(path), classOf[java.util.Map[String, Object]])

  // ---------------------------------------------------------------- fdsn

  /** A request's result kept for the DuckDB recomputation in oracle.py. */
  private def checkRecord(i: Int, r: Request, df: DataFrame, rows: Array[Row],
      afterBatch: Int): String =
    Json.obj("i" -> i, "kind" -> r.kind, "params" -> r.params, "after_batch" -> afterBatch,
      "radius_sql" -> (for (lat <- r.d("latitude"); lon <- r.d("longitude"))
        yield GeoFunctions.centralAngleDegSql("latitude", "longitude", lat, lon)),
      "columns" -> df.columns.toSeq, "rows" -> rows.toSeq)

  private def writeFdsnChecks(checked: collection.Seq[String]): Unit = {
    Files.write(Paths.get(s"$out/fdsn_checked.jsonl"), checked.asJava)
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.obj(
      "event_index" -> EventIndex.oracleCte, "channel_index" -> ChannelIndex.oracleCte))
  }

  // ------------------------------------------------------------ curation

  def curationBatch(): Unit = {
    val warm = mutable.LinkedHashMap.empty[String, Double]
    val rows = mutable.Map.empty[String, Long]
    /** One call of `key`, written out for the DuckDB check; its row count. */
    def written(key: String, dir: String): Long = {
      SparkEntry.queries(key)(spark, input).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/curation/$dir/$key")
      unpersistAll()
      spark.read.parquet(s"$out/curation/$dir/$key").count()
    }
    // warm-up pass: the same calls, written out and checked (a first call)
    Main.CurationKeys.foreach { key =>
      val t0 = System.nanoTime
      rows(key) = written(key, "first")
      warm(key) = (System.nanoTime - t0) / 1e6
    }
    summary("warmup_ms") = warm
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json.value(Main.CurationKeys.map(k => k -> SparkEntry.oracleSql(k)).toMap))
    startWindow()
    // A run times one pass over the keys (one batch job), whatever the
    // window: a pass count that followed the window would mix one- and
    // two-pass runs wherever a pass takes about half the window, and the
    // second pass runs warmer. A traced run makes two passes and traces
    // every key once: odd keys in the first pass, even keys in the second,
    // so the warmer second pass does not favour one side of the
    // tracing-overhead comparison.
    val passes = if (trace) 2 else 1
    var i = 0
    (1 to passes).foreach { pass =>
      Main.CurationKeys.zipWithIndex.foreach { case (key, k) =>
        op(i, "key", key, pass, traced = (k + pass) % 2 == 0) { sw =>
          val df = SparkEntry.queries(key)(spark, input)
          sw.markBuilt()
          df.write.format("noop").mode("overwrite").save()
          rows(key)
        }
        unpersistAll()
        i += 1
      }
    }
    endWindow()
    // one more call per key after the window, written out and checked
    // too: a result that goes stale across repeated calls shows here
    summary("last_call_rows") = Main.CurationKeys.map(k => k -> written(k, "last")).toMap
    summary("passes") = passes
    if (trace) {
      // d03's candidate pairs (its K = 16 permutations, 2 bands) against
      // the pairs meeting the exact Jaccard 0.8 threshold of d01
      val docs = Tables.documents(spark, input)
      val cand = Dedup.minHashLshPairs(docs, 16, 2).localCheckpoint()
      summary("lsh_candidate_pairs") = cand.count()
      summary("lsh_true_pairs") = cand.join(Dedup.jaccardPairs(docs, 0.8), Seq("a", "b")).count()
      unpersistAll()
    }
  }

  // -------------------------------------------------------------- ingest

  def ingestUpsert(): Unit = {
    val props = readJson(s"$input/props.json")
    val nBatches = props.get("feed_batches").asInstanceOf[Number].intValue
    val nWarm = props.get("feed_warmup_batches").asInstanceOf[Number].intValue
    val perCommit = props.get("reads_per_commit").asInstanceOf[Number].intValue
    val reads = Requests.load(s"$input/requests.jsonl")
    val sample = props.get("check_sample").asInstanceOf[java.util.List[Number]].asScala
      .map(_.intValue).toSet
    val checked = mutable.ArrayBuffer.empty[String]
    val liveDir = s"$work/live"
    val store = s"$liveDir/events.parquet"
    val feed = s"$work/feed"
    new File(feed).mkdirs()
    new File(liveDir).mkdirs()
    Files.copy(Paths.get(s"$input/documents.parquet"), Paths.get(s"$liveDir/documents.parquet"))
    val t0 = System.nanoTime
    ParquetStore.installOverwrite(Tables.events(spark, input), store)
    summary("seed_store_ms") = (System.nanoTime - t0) / 1e6
    val stream = spark.readStream
      .schema(Ingest.eventSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .option("header", "true")
      .csv(feed)
      .filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val q = EventStreams.upsertSink(spark, stream, "event_id", store, s"$work/checkpoint")
    def publish(b: Int): Unit = {
      val name = f"batch_$b%04d.csv"
      Files.move(Paths.get(s"$input/staging/$name"), Paths.get(s"$feed/$name"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    var r = 0
    var committed = -1
    def read(i: Int, traced: Boolean): Unit = {
      val n = r; val req = reads(n); r += 1
      op(i, "read", req.kind, 0, traced) { sw =>
        val df = Requests.build(spark, liveDir, req)
        sw.markBuilt()
        val rows = df.collect()
        if (sample(n)) checked += checkRecord(n, req, df, rows, committed)
        rows.length
      }
    }
    try {
      (0 until nWarm).foreach { b =>
        publish(b); q.processAllAvailable(); committed = b
        (0 until perCommit).foreach(_ => read(-1, traced = false))
      }
      ops.clear(); firstOpMs = -1
      startWindow()
      var b = nWarm
      var i = 0
      var last = 0L
      while (fits(last) && b < nBatches) {
        val t = System.nanoTime
        val traced = b % 2 == 1
        val ok = op(i, "commit", f"batch_$b%04d", 0, traced) { _ =>
          publish(b); q.processAllAvailable(); -1L
        }
        committed = b
        b += 1; i += 1
        if (!ok) throw new IllegalStateException(s"commit of batch ${b - 1} failed")
        (0 until perCommit).foreach { _ => read(i, traced); i += 1 }
        last = System.nanoTime - t
      }
      endWindow()
      summary("published_batches") = b
    } finally {
      q.stop()
      q.awaitTermination()
    }
    // quarantine: the batch twin of the stream's reader over every
    // published batch; the count must equal the injected malformed rows.
    // Every column is kept: the CSV reader parses only projected columns,
    // so a projection without `ts` would not see a malformed timestamp.
    val raw = Ingest.readCsvEvents(spark, feed).localCheckpoint()
    summary("feed_rows_read") = raw.count()
    summary("quarantined_rows") = raw.filter(col("_corrupt_record").isNotNull).count()
    unpersistAll()
    writeFdsnChecks(checked)
  }

  private def endWindow(): Unit = {
    summary("window_ms") = (System.nanoTime - windowStart) / 1e6
    summary("jvm_gc_ms") = gcMs - gcAtStart
    summary("heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  def writeOutputs(): Unit = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb = try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    } finally status.close()
    summary("rss_peak_mb") = hwmKb.map(_ / 1024.0)
    summary("jvm_start_ms") = ManagementFactory.getRuntimeMXBean.getStartTime
    summary("first_op_ms") = firstOpMs
    Files.write(Paths.get(s"$out/ops.jsonl"), ops.asJava)
    tracer.foreach(t => Files.write(Paths.get(s"$out/spans.jsonl"), t.spanLines.asJava))
    Files.writeString(Paths.get(s"$out/summary.json"), Json.value(summary))
  }
}

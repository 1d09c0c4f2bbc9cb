package graft.perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType

import graft.{Broadcasts, Caches, Memo, SparkEntry}
import graft.io.{EventSource, Formats}
import graft.ops.Streaming

/** One benchmark run in one JVM: set up, measure one workload's fixed
  * amount of work with a single closed-loop client, check every output, and
  * write a result JSON for run.py.
  *
  * Arguments are `--name value` pairs; run.py passes them. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val params = new ObjectMapper().readTree(new java.io.File(a("params")))
    val workload = a("workload")
    val run = new Run(workload, a("seed").toLong, a("trace") == "1", a("run-dir"),
      a("cpus").toInt, params.get(workload))
    // set-up: from run.py's start (input generation, JVM and session start,
    // input preparation) to the end of the untimed warm-up
    run.start(a("data-dir"))
    run.warmUp()
    val setup = (Clock.ms - a("t0-ms").toDouble) / 1000
    System.err.println(f"[perfbench] set-up: $setup%.2f s")
    val res = run.measure()
    res.metrics("setup_s") = setup
    res.metrics("peak_rss_mb") = Stats.peakRssMb()
    run.stop()
    val w = new java.io.PrintWriter(a("out"))
    try w.write(res.toJson) finally w.close()
  }
}

/** Result of a run, read back by run.py. `checks` are the DuckDB oracle
  * comparisons run.py performs after the JVM exits. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val checks = mutable.ArrayBuffer.empty[Map[String, String]]
  def toJson: String = Json.obj(Seq(
    "attempted" -> attempted.toString, "failed" -> failed.toString,
    "metrics" -> Json.obj(metrics.toSeq.map { case (k, v) => k -> Json.num(v) }),
    "failures" -> Json.arr(failures.toSeq.map(Json.str)),
    "checks" -> Json.arr(checks.toSeq.map(m =>
      Json.obj(m.toSeq.map { case (k, v) => k -> Json.str(v) })))))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** The highest order statistic with at least 10 samples above it, and
    * the percentile it stands at. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val k = math.max(0, s.size - 11)
    if (s.isEmpty) (0.0, 0.0) else (s(k), 100.0 * k / math.max(1, s.size - 1))
  }
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** One operator call or streaming trigger, the unit every latency and
  * per-layer figure is counted in. */
final case class Op(name: String, layer: String, startMs: Double, endMs: Double,
    spanId: Long, phases: Map[String, Double] = Map.empty) {
  def ms: Double = endMs - startMs
}

final class Run(workload: String, seed: Long, trace: Boolean, runDir: String,
    cpus: Int, p: JsonNode) {
  var spark: SparkSession = _
  private var dir: String = _
  private val spans = new Spans(java.util.UUID.nameUUIDFromBytes(
    s"$workload/$seed/${System.nanoTime()}".getBytes).toString)
  private val streamLog = new StreamLog
  private var w: Workload = _

  def start(dataDir: String): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.streams.addListener(streamLog)
    dir = dataDir
    w = workload match {
      case "analytics" => new Analytics(this)
      case "feed" => new Feed(this)
    }
    w.prepare()
  }

  def warmUp(): Unit = w.warmUp()

  def stop(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  def dataDir: String = dir
  def scratch(name: String): String = s"$runDir/$name"
  def param(name: String): JsonNode = p.get(name)
  def seedValue: Long = seed
  def stream: StreamLog = streamLog

  /** Run one operator key on `d` and materialise its full result. */
  def call(key: String, d: String, parent: Long, layer: String): (Op, Either[String, (Array[Row], StructType)], Boolean) = {
    val sc = spark.sparkContext
    val id = spans.newId()
    Memo.drainServed()
    sc.setLocalProperty(Trace.SpanProp, id.toString)
    val t0 = Clock.ms
    val r =
      try {
        val df = SparkEntry.queries(key)(spark, d)
        Right((df.collect(), df.schema))
      } catch { case e: Throwable =>
        Left(s"$key: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200))
      }
    val t1 = Clock.ms
    sc.setLocalProperty(Trace.SpanProp, null)
    val served = Memo.drainServed().nonEmpty
    // release the call's broadcasts and caches outside the timed interval
    Broadcasts.destroyAll()
    Caches.unpersistAll()
    spark.catalog.clearCache()
    spans.add(Span(id, parent, "call", key, t0, t1))
    (Op(key, layer, t0, t1, id), r, served)
  }

  def span[T](kind: String, name: String, parent: Long)(body: Long => T): T = {
    val id = spans.newId()
    val t0 = Clock.ms
    try body(id) finally spans.add(Span(id, parent, kind, name, t0, Clock.ms))
  }

  /** The timed region: the workload's passes, untraced. A traced run does
    * four passes instead, untraced, traced, traced, untraced, so that a
    * steady warm-up drift cancels out of the tracing overhead; the traced
    * passes supply the per-layer metrics. */
  def measure(): Result = {
    val res = new Result
    if (!trace) {
      val passes = span("workload", workload, 0)(id => Seq.fill(w.passes)(w.pass(id)))
      w.endToEnd(w.timed(passes), res.metrics)
    } else {
      val engine = new EngineTrace(spark)
      val order = span("workload", workload, 0) { id =>
        Seq(false, true, true, false).map { traced =>
          if (traced) engine.attach()
          val i = w.pass(id)
          if (traced) engine.detach()
          (traced, i)
        }
      }
      val traced = w.timed(order.filter(_._1).map(_._2))
      val plain = w.timed(order.filterNot(_._1).map(_._2))
      val layers = new Layers(workload, spans, engine, traced, streamLog)
      layers.report(res.metrics, w)
      val over = 100 * (Stats.median(traced.ops.map(_.ms)) /
        math.max(1e-9, Stats.median(plain.ops.map(_.ms))) - 1)
      res.metrics("trace.overhead_pct") = over
      res.metrics("trace.spans") = layers.spanCount
      layers.write(s"${sys.props("user.dir")}/.bench_build/traces", seed, over)
    }
    w.check(res)
    res
  }
}

/** What some passes produced: the ops in order, and the workload's units of
  * work (events or calls) over the wall time they took. */
final case class Timed(ops: Seq[Op], units: Double, wallMs: Double, passes: Seq[Int])

trait Workload {
  /** Passes in an end-to-end timed region: a fixed amount of work. */
  def passes: Int
  def prepare(): Unit
  def warmUp(): Unit
  /** Run one pass (an analytics round or a feed drain); returns its index. */
  def pass(parent: Long): Int
  def timed(passes: Seq[Int]): Timed
  def check(res: Result): Unit
  /** Per-layer metrics only this workload can give (on others they are 0). */
  def layerMetrics(traced: Timed, m: mutable.Map[String, Double]): Unit = ()
  def endToEnd(t: Timed, m: mutable.Map[String, Double]): Unit = {
    m("throughput_per_s") = t.units / (t.wallMs / 1000)
    m("latency_p50_ms") = Stats.median(t.ops.map(_.ms))
  }
}

object Keys {
  /** The module each benchmarked key lives in: the layer its driver-side
    * self time is charged to. */
  val layer: Map[String, String] = Map(
    "sql_tpch_q1" -> "relational", "sql_tpch_q3" -> "relational",
    "sql_tpch_q5" -> "relational", "sql_tpch_q18" -> "relational",
    "agg_pricing_summary" -> "relational", "join_broadcast" -> "relational",
    "agg_rollup" -> "relational", "win_topk_per_group" -> "relational",
    "knn_cosine" -> "llm_corpus", "knn_lsh_bucketed" -> "llm_corpus",
    "knn_hnsw" -> "llm_corpus", "graph_hits" -> "analytics",
    "sim_threshold" -> "llm_corpus", "cluster_dbscan" -> "llm_corpus")
  val layers: Seq[String] =
    Seq("io", "streaming", "llm_corpus", "relational", "analytics", "engine")

  def hash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(12).map(b => f"$b%02x").mkString
  }
}

/** The analytics mix: each pass is one round of every key, in an order the
  * seed permutes. Outputs are checked against their DuckDB twins (through
  * run.py) and must hash the same on every call. */
final class Analytics(r: Run) extends Workload {
  /** Two rounds: a third did not narrow the run-to-run spread. */
  val passes = 2
  val keys: Seq[String] = {
    val it = r.param("keys").elements()
    val b = Seq.newBuilder[String]
    while (it.hasNext) b += it.next().asText()
    b.result()
  }
  final case class Done(op: Op, round: Int,
      out: Either[String, (Array[Row], StructType)], served: Boolean) {
    lazy val hash: String = out.map(x => Keys.hash(x._1)).getOrElse("")
  }
  private val done = mutable.ArrayBuffer.empty[Done]
  private var rounds = 0

  private def run(key: String, d: String, round: Int, parent: Long): Unit = {
    val (op, out, served) = r.call(key, d, parent, Keys.layer(key))
    done += Done(op, round, out, served)
  }

  def prepare(): Unit = ()
  // one round in list order on the small warm-up tables (first calls pay
  // class loading and code generation), then one on the measured tables:
  // first calls there still run up to 3x slower. The memo producer's
  // refresh in that round makes every timed consumer call a serve, so each
  // timed round does the same work whatever its order.
  def warmUp(): Unit = {
    keys.foreach(k => run(k, s"${r.dataDir}/warm", -1, 0))
    keys.foreach(k => run(k, r.dataDir, -1, 0))
    done.clear()
  }

  // the producer → consumer memo pair stays adjacent and in order
  private val units: Seq[Seq[String]] = {
    val i = keys.indexOf("sim_threshold")
    val pair = keys.indexOf("cluster_dbscan")
    keys.indices.filterNot(_ == pair).map(k =>
      if (k == i && pair >= 0) Seq(keys(i), keys(pair)) else Seq(keys(k)))
  }

  def pass(parent: Long): Int = {
    val round = rounds
    rounds += 1
    val rnd = new scala.util.Random(r.seedValue * 7919 + round)
    r.span("pass", s"round-$round", parent) { id =>
      rnd.shuffle(units).flatten.foreach(k => run(k, r.dataDir, round, id))
    }
    round
  }

  def timed(rs: Seq[Int]): Timed = {
    // throughput at each key's median latency over the rounds: a call
    // that hit a burst of host contention moves it less than a plain sum
    val ops = done.filter(x => rs.contains(x.round)).map(_.op).toSeq
    val roundMs = ops.groupBy(_.name).values.map(xs => Stats.median(xs.map(_.ms))).sum
    Timed(ops, ops.size, roundMs * rs.size, rs)
  }

  def check(res: Result): Unit = {
    res.attempted += done.size
    done.foreach(x => x.out.left.foreach { e => res.failed += 1; res.failures += e })
    done.filter(_.out.isRight).groupBy(_.op.name).foreach { case (key, xs) =>
      if (xs.map(_.hash).distinct.size > 1) {
        res.failed += xs.size
        res.failures += s"$key: result hash differs between calls"
      } else if (SparkEntry.oracleSql.contains(key)) {
        // the rows go to run.py as parquet (untimed) for a DuckDB compare
        val (rows, schema) = xs.head.out.toOption.get
        val path = r.scratch(s"check/$key")
        r.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(path)
        res.checks += Map("key" -> key, "data" -> r.dataDir, "spark" -> path,
          "sql" -> SparkEntry.oracleSql(key), "calls" -> xs.size.toString)
      }
    }
  }

  override def layerMetrics(t: Timed, m: mutable.Map[String, Double]): Unit =
    m("memo.served_calls") = done.count(x => x.served && t.passes.contains(x.round))
      .toDouble / math.max(1, t.passes.size)
}

/** Trigger progress captured from the listener (every trigger, unlike
  * `recentProgress`, which keeps only the last 100). */
final class StreamLog extends StreamingQueryListener {
  final case class Trig(query: java.util.UUID, batch: Long, startMs: Double,
      phases: Map[String, Double], inputRows: Long, stateRows: Double,
      stateMem: Double, wmDropped: Double, dupDropped: Double, stateMs: Double)
  val trigs = new java.util.concurrent.ConcurrentLinkedQueue[Trig]()
  val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
  import scala.jdk.CollectionConverters._
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.add(e.runId)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    def custom(o: org.apache.spark.sql.streaming.StateOperatorProgress, k: String): Double =
      Option(o.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)
    trigs.add(Trig(p.runId, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap,
      p.numInputRows,
      ops.map(_.numRowsTotal.toDouble).sum, ops.map(_.memoryUsedBytes.toDouble).sum,
      ops.map(_.numRowsDroppedByWatermark.toDouble).sum,
      ops.map(o => custom(o, "numDroppedDuplicateRows")).sum,
      ops.map(o => (o.allUpdatesTimeMs + o.allRemovalsTimeMs + o.commitTimeMs).toDouble).sum))
  }
  def of(runId: java.util.UUID): Seq[Trig] =
    trigs.asScala.filter(_.query == runId).toSeq.sortBy(_.batch)
  def awaitTerminated(runId: java.util.UUID): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!terminated.contains(runId) && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

/** The streaming feed: Kinesis-shaped record files drained one per trigger
  * through decode → dropDuplicatesWithinWatermark → tumbling window → a
  * checkpointed parquet sink. */
final class Feed(r: Run) extends Workload {
  private val recordSchema = new StructType()
    .add("partition_key", "string").add("sequence_number", "long").add("data", "string")
  private def wm: String = s"${r.param("watermark_seconds").asInt} seconds"
  private def records: String = s"${r.dataDir}/records"
  private def warmRecords: String = s"${r.dataDir}/records_warm"
  final case class Drain(sink: String, runId: java.util.UUID, startMs: Double,
      endMs: Double, records: Long, error: Option[String])
  private val drains = mutable.ArrayBuffer.empty[Drain]
  private var n = 0

  /** Wrap the generated events into one record file per trigger. */
  def prepare(): Unit = {
    val s = r.spark
    val events = graft.io.Tables.normalizeTs(s.read.parquet(s"${r.dataDir}/feed_events.parquet"))
    val wrapped = Formats.kinesisWrap(events.select(EventSource.storedSchema.fieldNames.map(col).toIndexedSeq: _*))
    val plan = s.read.parquet(s"${r.dataDir}/feed_deliveries.parquet")
    plan.join(wrapped, plan("event_id") === wrapped("sequence_number"))
      .select(col("file_idx"), col("seq"), col("partition_key"), col("sequence_number"),
        // a corrupt blob: the record's payload cut short mid-JSON
        when(col("corrupt"), base64(substring(unbase64(col("data")), 1, 17)))
          .otherwise(col("data")).as("data"))
      .repartition(col("file_idx")).sortWithinPartitions("file_idx", "seq").drop("seq")
      .write.partitionBy("file_idx").parquet(records)
    // the file source drains in modification-time order
    val base = System.currentTimeMillis() - 3600 * 1000L
    val files = new java.io.File(records).listFiles().filter(_.getName.startsWith("file_idx="))
    files.foreach { d =>
      val i = d.getName.stripPrefix("file_idx=").toInt
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(base + i * 1000L))
    }
    // warm-up input: the first files and the sentinel
    val warm = r.param("warmup_triggers").asInt
    files.filter { d =>
      val i = d.getName.stripPrefix("file_idx=").toInt
      i < warm || i == files.length - 1
    }.foreach { d =>
      val to = new java.io.File(warmRecords, d.getName)
      to.mkdirs()
      d.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        val t = new java.io.File(to, f.getName)
        java.nio.file.Files.copy(f.toPath, t.toPath)
        t.setLastModified(f.lastModified())
      }
    }
  }

  private def drain(input: String): Drain = {
    val s = r.spark
    n += 1
    val sink = r.scratch(s"feed/sink_$n")
    val ckpt = r.scratch(s"feed/ckpt_$n")
    val stream = s.readStream.schema(recordSchema)
      .option("recursiveFileLookup", "true").option("maxFilesPerTrigger", 1)
      .parquet(input)
    val decoded = Formats.kinesisDecode(stream, EventSource.storedSchema)
    val agg = Streaming.tumblingTransform(
      decoded.withWatermark("ts", wm).dropDuplicatesWithinWatermark("event_id"))
    val t0 = Clock.ms
    val q = agg.writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    val err =
      try { q.awaitTermination(); None }
      catch { case e: Throwable => Some(s"feed drain: ${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200)) }
    val t1 = Clock.ms
    r.stream.awaitTerminated(q.runId)
    val rows = r.stream.of(q.runId).map(_.inputRows).sum
    Drain(sink, q.runId, t0, t1, rows, err)
  }

  def warmUp(): Unit = drain(warmRecords)

  /** One drain of all record files: about 12 s on a 4-core machine. */
  val passes = 1

  def pass(parent: Long): Int = {
    r.span("pass", s"drain-${drains.size}", parent) { _ => drains += drain(records) }
    drains.size - 1
  }

  def timed(ds: Seq[Int]): Timed = {
    val mine = ds.map(drains)
    val ops = mine.flatMap { d =>
      r.stream.of(d.runId).map { t =>
        Op(s"trigger-${t.batch}", "streaming", t.startMs,
          t.startMs + t.phases.getOrElse("triggerExecution", 0.0), 0, t.phases)
      }
    }
    Timed(ops, mine.map(_.records).sum.toDouble, mine.map(d => d.endMs - d.startMs).sum, ds)
  }

  /** Sink rows must equal the batch twin over the same records: decode,
    * drop corrupt (all-null) rows, drop rows behind the watermark the
    * stream had when their file was read, drop redelivered duplicates, and
    * leave out the sentinel file whose window never closes. */
  private lazy val twin: (String, Long) = {
    val s = r.spark
    val raw = s.read.schema(recordSchema).option("recursiveFileLookup", "true")
      .parquet(records)
      .withColumn("f", regexp_extract(input_file_name(), "file_idx=(\\d+)", 1).cast("int"))
    // an independent decode that keeps the file index beside each row
    val dec = raw.select(col("f"), from_json(unbase64(col("data")).cast("string"),
      EventSource.storedSchema, Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")).as("e"))
      .select(col("f"), col("e.*"))
    val nulls = Formats.kinesisDecode(raw, EventSource.storedSchema)
      .where(col("event_id").isNull).count()
    val last = raw.agg(max(col("f"))).head.getInt(0)
    val good = dec.where(col("event_id").isNotNull)
    val maxTs = good.groupBy(col("f")).agg(max(col("ts")).as("mts")).collect()
      .map(row => row.getInt(0) -> row.getTimestamp(1).getTime).toMap
    val delayMs = r.param("watermark_seconds").asLong * 1000
    // the threshold for file f: the max event time of files <= f-2, less
    // the delay (the watermark the engine filters late rows with)
    val thr = (0 to last).map { f =>
      val seen = (0 to f - 2).flatMap(maxTs.get)
      f -> (if (seen.isEmpty) Long.MinValue else seen.max - delayMs)
    }
    val thrDf = s.createDataFrame(thr).toDF("f", "thr_ms")
    val kept = good.join(broadcast(thrDf), "f")
      .where(col("f") < last && (unix_micros(col("ts")) / 1000) >= col("thr_ms"))
      .dropDuplicates("event_id").drop("f", "thr_ms")
    (Keys.hash(Streaming.tumblingTransform(kept).collect()), nulls)
  }

  def check(res: Result): Unit = {
    val expect = twin._1
    drains.foreach { d =>
      val trig = r.stream.of(d.runId).size
      res.attempted += trig
      val bad = d.error.orElse {
        val got = Keys.hash(r.spark.read.parquet(d.sink).collect())
        if (got == expect) None else Some(s"feed drain ${d.sink}: sink rows differ from the batch twin")
      }
      bad.foreach { e => res.failed += trig; res.failures += e }
    }
  }

  override def layerMetrics(t: Timed, m: mutable.Map[String, Double]): Unit = {
    val drainsN = math.max(1, t.passes.size)
    m("stream.triggers") = t.ops.size.toDouble / drainsN
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      .foreach(k => m(s"stream.${k}_ms") = Stats.median(t.ops.map(_.phases.getOrElse(k, 0.0))))
    val mine = t.passes.flatMap(i => r.stream.of(drains(i).runId))
    m("stream.state_rows") = Stats.median(mine.map(_.stateRows))
    m("stream.state_mem_bytes") = Stats.median(mine.map(_.stateMem))
    m("stream.watermark_dropped_rows") = mine.map(_.wmDropped).sum / drainsN
    m("stream.dedup_dropped_rows") = mine.map(_.dupDropped).sum / drainsN
    m("io.decode_null_rows") = twin._2.toDouble
  }
}

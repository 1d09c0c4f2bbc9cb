package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer figures of one traced region, all per operation (operator call
  * or trigger) unless the name says otherwise.
  *
  * Self time: a call's wall time covered by its jobs, plus the Catalyst
  * phases of its queries, is the engine's; the rest is the driver-side work
  * of the module the key lives in (frame building, driver collects,
  * broadcasts, loop control). A trigger's `latestOffset` and `getBatch` are
  * the io layer's (file-source listing and decode set-up); its job time, less
  * the state store's share of the trigger's task time, the engine's; the
  * rest ops.Streaming's, with the state store under it. */
final class Layers(workload: String, spans: Spans, engine: EngineTrace,
    t: Timed, stream: StreamLog) {
  private val ops = t.ops
  private val n = math.max(1, ops.size).toDouble
  private val jobs = engine.jobs.values.asScala.toSeq.sortBy(_.startMs)
  private val stages = engine.stages.values.asScala.toSeq
  private val tasks = engine.tasks.asScala.toSeq
  private val catalyst = engine.catalyst.asScala.toSeq

  /** The op a job belongs to: by the span property, else by its start time. */
  private val opOfJob: Map[Int, Op] = jobs.flatMap { j =>
    ops.find(o => o.spanId != 0 && o.spanId == j.callSpan)
      .orElse(ops.find(o => j.startMs >= o.startMs && j.startMs <= o.endMs))
      .map(j.id -> _)
  }.toMap
  private val jobsOfOp: Map[Op, Seq[JobRec]] =
    jobs.filter(j => opOfJob.contains(j.id)).groupBy(j => opOfJob(j.id))
  /** Catalyst records are delivered after the action returns: charge each
    * to the last op that started before it. */
  private val catalystOfOp: Map[Op, Double] = catalyst.flatMap { case (at, ms) =>
    ops.filter(_.startMs <= at).lastOption.map(_ -> ms)
  }.groupBy(_._1).map { case (o, xs) => o -> xs.map(_._2).sum }

  def spanCount: Double = allSpans.size.toDouble

  def report(m: mutable.Map[String, Double], w: Workload): Unit = {
    val st = stages.filter(_.tasks > 0)
    m("spark.jobs") = jobs.size / n
    m("spark.stages") = st.size / n
    m("spark.tasks") = st.map(_.tasks).sum / n
    m("spark.catalyst_ms") = catalyst.map(_._2).sum / n
    val taskIv = tasks.map(x => (x.startMs, x.endMs))
    m("spark.idle_ms") = ops.map(o => o.ms - Intervals.covered(taskIv, o.startMs, o.endMs)).sum / n
    m("spark.executor_run_ms") = st.map(_.runMs).sum / n
    m("spark.executor_cpu_ms") = st.map(_.cpuMs).sum / n
    m("spark.gc_ms") = st.map(_.gcMs).sum / n
    m("spark.shuffle_write_bytes") = st.map(_.shuffleWrite).sum / n
    m("spark.shuffle_read_bytes") = st.map(_.shuffleRead).sum / n
    m("spark.spill_bytes") = st.map(_.spill).sum / n
    m("spark.input_bytes") = st.map(_.input).sum / n
    m("io.sink_ms") = st.map(_.outputRunMs).sum / n
    m("io.sink_bytes") = st.map(_.output).sum / n
    for (k <- Keys.layer.keys) {
      val mine = ops.filter(_.name == k)
      m(s"op.${k}_ms") = Stats.median(mine.map(_.ms))
      m(s"op.${k}_jobs") =
        if (mine.isEmpty) 0.0 else mine.map(o => jobsOfOp.getOrElse(o, Nil).size).sum.toDouble / mine.size
    }
    Seq("stream.triggers", "stream.latestOffset_ms", "stream.getBatch_ms",
      "stream.queryPlanning_ms", "stream.addBatch_ms", "stream.walCommit_ms",
      "stream.commitOffsets_ms", "stream.state_rows", "stream.state_mem_bytes",
      "stream.watermark_dropped_rows", "stream.dedup_dropped_rows",
      "io.decode_null_rows", "memo.served_calls")
      .foreach(k => m(k) = 0.0)
    selfTimes.foreach { case (l, ms) => m(s"layer.${l}_ms") = ms / n }
    w.layerMetrics(t, m)
    val (tail, pct) = Stats.tail(ops.map(_.ms))
    m("latency_tail_ms") = tail
    m("latency_tail_pct") = pct
    m("latency_samples") = ops.size.toDouble
  }

  /** Summed self time per layer over the region. */
  lazy val selfTimes: Seq[(String, Double)] = {
    val acc = mutable.LinkedHashMap(Keys.layers.map(_ -> 0.0): _*)
    ops.foreach { o =>
      val jobIv = jobsOfOp.getOrElse(o, Nil).map(j => (j.startMs, j.endMs))
      val inJobs = Intervals.covered(jobIv, o.startMs, o.endMs)
      if (o.phases.isEmpty) {
        val eng = math.min(o.ms, inJobs + catalystOfOp.getOrElse(o, 0.0))
        acc("engine") += eng
        acc(o.layer) += o.ms - eng
      } else {
        // state-store time is task time: take its share of the trigger's
        // executor run time out of the job wall time
        val io = o.phases.getOrElse("latestOffset", 0.0) + o.phases.getOrElse("getBatch", 0.0)
        val state = stream.trigs.asScala.find(_.startMs == o.startMs).map(_.stateMs).getOrElse(0.0)
        val run = jobsOfOp.getOrElse(o, Nil).flatMap(_.stages).distinct
          .flatMap(id => Option(engine.stages.get(id))).map(_.runMs).sum
        val stateShare = if (run <= 0) 0.0 else math.min(1.0, state / run)
        val eng = math.max(0.0, math.min(o.ms - io, inJobs * (1 - stateShare)))
        acc("io") += io
        acc("engine") += eng
        acc("streaming") += math.max(0.0, o.ms - io - eng)
      }
    }
    acc.toSeq
  }

  /** Client spans plus the engine's: sql → job → stage under each op. */
  lazy val allSpans: Seq[Span] = {
    val client = spans.all
    val trigSpans = ops.filter(_.spanId == 0).map { o =>
      Span(spans.newId(), 0, "trigger", o.name, o.startMs, o.endMs, o.phases)
    }
    val opSpan: Map[Op, Long] = ops.zip(ops.map { o =>
      if (o.spanId != 0) o.spanId
      else trigSpans.find(s => s.startMs == o.startMs && s.name == o.name).map(_.id).getOrElse(0L)
    }).toMap
    val sqlSpan = mutable.Map.empty[Long, Span]
    val jobSpans = jobs.flatMap { j =>
      val parentOp = opOfJob.get(j.id).map(opSpan).getOrElse(0L)
      val parent = Option(engine.sqls.get(j.sqlExec)).map { s =>
        sqlSpan.getOrElseUpdate(s.id, Span(spans.newId(), parentOp, "sql",
          s.desc.take(80), s.startMs, s.endMs)).id
      }.getOrElse(parentOp)
      val js = Span(spans.newId(), parent, "job", s"job-${j.id}", j.startMs, j.endMs)
      js +: j.stages.flatMap(id => Option(engine.stages.get(id))).filter(_.tasks > 0).map { s =>
        Span(spans.newId(), js.id, "stage", s"stage-${s.id}", s.submitMs, s.endMs,
          Map("tasks" -> s.tasks.toDouble, "executor_run_ms" -> s.runMs,
            "shuffle_write_bytes" -> s.shuffleWrite, "shuffle_read_bytes" -> s.shuffleRead))
      }
    }
    client ++ trigSpans ++ sqlSpan.values ++ jobSpans
  }

  def write(dir: String, seed: Long, overheadPct: Double): Unit = {
    new java.io.File(dir).mkdirs()
    val f = new java.io.File(dir, s"$workload-seed$seed-${spans.runId.take(8)}.json")
    val top = selfTimes.maxBy(_._2)._1
    def spanJson(s: Span): String = Json.obj(Seq(
      "run_id" -> Json.str(spans.runId), "id" -> s.id.toString,
      "parent" -> s.parent.toString, "kind" -> Json.str(s.kind),
      "name" -> Json.str(s.name), "start_ms" -> Json.num(s.startMs),
      "end_ms" -> Json.num(s.endMs),
      "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) })))
    val body = Json.obj(Seq(
      "run_id" -> Json.str(spans.runId), "workload" -> Json.str(workload),
      "seed" -> seed.toString, "ops" -> ops.size.toString,
      "layer_self_ms" -> Json.obj(selfTimes.map { case (k, v) => k -> Json.num(v) }),
      "top_layer" -> Json.str(top),
      "tracing_overhead_pct" -> Json.num(overheadPct),
      "spans" -> allSpans.map(spanJson).mkString("[\n", ",\n", "\n]")))
    val w = new java.io.PrintWriter(f)
    try w.write(body) finally w.close()
    System.err.println(s"[perfbench] trace: ${f.getPath} (top layer: $top)")
  }
}

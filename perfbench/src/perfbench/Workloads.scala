package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.cdc.EventGen
import graft.engine.{ApplyStats, Engine}

/** One traced `Engine.applyEvents` call with what the benchmark knows
  * about it: input events, the returned stats, and the segments the
  * commit added (from the snapshots before and after the call). */
final case class ApplyRec(span: Span, events: Long, stats: ApplyStats,
    newSegs: Seq[(String, Long, Long)])

/** Per-layer figures of traced applies, from the spans, the listener's
  * jobs and stages (by call-site file), FS statistics and snapshots. */
object ApplyLayers {
  def apply(c: Ctx, recs: Seq[ApplyRec]): Map[String, Double] = {
    val sc = c.spark.sparkContext
    val t = c.tracer
    val events = math.max(1L, recs.map(_.events).sum).toDouble
    val per = recs.map { r =>
      val jobs = t.jobsOf(r.span, sc).sortBy(_.jobId)
      val stages = t.stagesOf(jobs)
      def jobStages(j: JobRec) = stages.filter(_.jobId == j.jobId)
      // the dedup exchange: the first shuffle-writing stage of the apply's
      // first job, which scans the batch and aggregates by key
      val dedup = jobs.headOption.toSeq.flatMap(jobStages)
        .filter(_.shuffleWrite > 0).sortBy(_.stageId).headOption
      // the inference fold is the result stage of the `fold` job
      val infer = jobs.find(j =>
        jobStages(j).exists(_.name.startsWith("fold at Engine.scala")))
        .toSeq.flatMap(jobStages).sortBy(_.stageId).lastOption
      val merge = stages.filter(_.file == "LakeTable.scala")
      val fs = t.fsOf(r.span.id)
      Map(
        "wall" -> (r.span.end - r.span.start) / 1e6,
        "jobs" -> jobs.size.toDouble,
        "gap" -> t.driverGapMs(r.span, jobs),
        "cpu" -> stages.map(_.cpuNs).sum / 1e6,
        "dedup_shuffle" -> dedup.map(_.shuffleWrite).getOrElse(0L).toDouble,
        "infer_cpu" -> infer.map(_.cpuNs).getOrElse(0L) / 1e6,
        "merge_cpu" -> merge.map(_.cpuNs).sum / 1e6,
        "merge_shuffle" -> merge.map(_.shuffleWrite).sum.toDouble,
        "bytes_written" -> r.newSegs.map(_._2).sum.toDouble,
        "files_written" -> r.newSegs.map(_._3).sum.toDouble,
        "fs_read" -> fs.bytesRead.toDouble,
        "fs_written" -> fs.bytesWritten.toDouble)
    }
    def med(k: String) = Stats.medianD(per.map(_(k)))
    def sum(k: String) = per.map(_(k)).sum
    val docs = math.max(1L, recs.map(_.stats.dedupedDocs).sum).toDouble
    Map(
      "engine.apply.wall_ms" -> med("wall"),
      "engine.apply.jobs" -> med("jobs"),
      "engine.apply.driver_gap_ms" -> med("gap"),
      "engine.apply.task_cpu_ms_per_kevent" -> sum("cpu") / (events / 1000),
      "engine.dedup.shuffle_bytes_per_event" -> sum("dedup_shuffle") / events,
      "engine.dedup.survivor_ratio" ->
        recs.map(r => r.stats.dedupedDocs + r.stats.deletes).sum / events,
      "schema.infer.task_cpu_ms" -> med("infer_cpu"),
      "schema.infer.us_per_doc" -> sum("infer_cpu") * 1000 / docs,
      "lake.merge.task_cpu_ms" -> med("merge_cpu"),
      "lake.merge.shuffle_bytes_per_event" -> sum("merge_shuffle") / events,
      "lake.merge.bytes_written" -> med("bytes_written"),
      "lake.merge.files_written" -> med("files_written"),
      "lake.fs.bytes_read" -> med("fs_read"),
      "lake.fs.bytes_written" -> med("fs_written"))
  }

  /** Apply under a span; traced, also diff the live segments. */
  def traced(c: Ctx, engine: Engine, entity: String, events: DataFrame,
      nEvents: Long, tag: String): (ApplyStats, Long, Option[ApplyRec]) = {
    val before = if (c.tracer.enabled) Lake.segments(engine, entity)
      else Map.empty[String, (String, Long, Long)]
    val t0 = System.nanoTime()
    val stats = c.span("engine.apply")(engine.applyEvents(entity, events, tag))
    val ns = System.nanoTime() - t0
    val rec = if (!c.tracer.enabled) None else {
      val fresh = Lake.segments(engine, entity)
        .filter { case (k, _) => !before.contains(k) }.values.toSeq
      Some(ApplyRec(c.tracer.all.filter(_.name == "engine.apply").last,
        nEvents, stats, fresh))
    }
    (stats, ns, rec)
  }
}

/** `ingest_bulk`: EventGen's wide key space replayed into a fresh lake as a
  * few large micro-batches, each scanning only its own lsn slice of
  * pre-materialized parquet. Schema evolution at 60% of the tail grows
  * the catalog from one table to three. The newest replay of a run (of
  * the traced phase, in a traced run) is then read back, untimed, and
  * checked against the model; traced, the read-back also looks up keys,
  * polls the changefeed, folds a streaming materialized view, re-delivers
  * the last batch incrementally and runs maintenance. */
final class IngestBulk(c: Ctx) extends Workload {
  private val tiny = c.args.tiny
  private val nEvents = if (tiny) 6000L else 90000L
  private val batches = 3
  private val buckets = 16
  private val lookups = 4
  // untimed replays of every `warmStride`-th event before the first timed
  // replay: the same batches and plans at a quarter of the rows, while
  // code generation and the JIT catch up with the apply path
  private val warmReplays = 1
  private val warmStride = 4
  private val params = EventGen.Params(nEvents = nEvents,
    nRepos = if (tiny) 100 else 2000, pathsPerRepo = if (tiny) 50 else 500,
    seed = c.args.seed)
  // the read-back's changefeed horizon: just before the last batch
  private val lastBatchLsn = (batches - 1) * (nEvents / batches)
  private val model = new Model
  private val sliceEvents = new Array[Long](batches)
  // docs of the last batch that survive its dedup: re-delivered with
  // `incremental = true`, every one of them must be skipped as unchanged
  private var lastBatchDocs = 0L
  private var events: DataFrame = _
  private var lakeBytesPerEvent = 0.0
  private var replays = 0
  private var readBackDone = false
  private val extra = mutable.LinkedHashMap.empty[String, Double]

  private def materialize(p: EventGen.Params, dir: String): DataFrame = {
    EventGen.events(c.spark, p, partitions = c.args.cores * batches).toDF()
      .withColumn("slice", least(lit(batches - 1),
        (col("lsn") / (p.nEvents / batches)).cast("int")))
      .write.partitionBy("slice").mode("overwrite").parquet(dir)
    c.spark.read.parquet(dir)
  }

  private def slice(b: Int, stride: Int = 1): DataFrame =
    events.filter(col("slice") === b && col("lsn") % stride === 0).drop("slice")

  /** Replays the events into a fresh lake at `lake`, one micro-batch per
    * lsn slice; `onApply` gets each batch's wall, trace record and
    * events. */
  private def replay(lake: String, tagPrefix: String,
      onApply: (Long, Option[ApplyRec], Long) => Unit, stride: Int = 1): Engine = {
    val engine = new Engine(c.spark, lake, numBuckets = buckets)
    (0 until batches).foreach { b =>
      c.safe(s"apply $tagPrefix:$b") {
        val (_, ns, rec) = ApplyLayers.traced(c, engine, "repos",
          slice(b, stride), sliceEvents(b), s"$tagPrefix:$b")
        onApply(ns, rec, sliceEvents(b))
      }
    }
    engine
  }

  def setup(): Unit = {
    // the model is built from the generated events on a thread of its own
    // while Spark materializes them and warms up
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val built = try pool.submit(new java.util.concurrent.Callable[(Seq[Int], Long)] {
      def call(): (Seq[Int], Long) = buildModel()
    }) finally pool.shutdown()
    events = materialize(params, c.tmp("events"))
    c.log("events materialized")
    (1 to warmReplays).foreach { i =>
      val lake = c.tmp(s"warm-lake-$i")
      replay(lake, s"warm$i", (_, _, _) => (), warmStride)
      Lake.deleteTree(Paths.get(lake))
      c.log(s"warm replay $i")
    }
    val (sizes, lastDocs) = built.get()
    sizes.indices.foreach(b => sliceEvents(b) = sizes(b))
    lastBatchDocs = lastDocs
    c.log("model built")
  }

  /** Feeds the model batch by batch; returns the events per batch and the
    * last batch's docs that survive its dedup. */
  private def buildModel(): (Seq[Int], Long) = {
    val bySlice = (0L until nEvents).map(EventGen.eventAt(_, params))
      .groupBy(e => math.min(batches - 1, (e.lsn / (nEvents / batches)).toInt))
    (0 until batches).foreach(b => model.applyBatch(bySlice(b)))
    ((0 until batches).map(bySlice(_).size),
      bySlice(batches - 1).groupBy(e => Model.idOf(e.doc))
        .count { case (_, es) => es.maxBy(_.lsn).op != "delete" }.toLong)
  }

  def phase(seconds: Double): Main.Phase = {
    val walls = mutable.ArrayBuffer.empty[Long]
    val replayWalls = mutable.ArrayBuffer.empty[Long]
    val recs = mutable.ArrayBuffer.empty[ApplyRec]
    var applied = 0L
    // the newest complete replay's engine and lake, read back at the end
    var newest: Option[(Engine, String)] = None
    // whole replays until the applies have taken `seconds`, and at least
    // two in an untraced run (or until one failed)
    val minReplays = if (c.args.trace) 1 else 2
    do {
      replays += 1
      val lake = c.tmp(s"lake-$replays")
      c.tracer.newTrace()
      val before = walls.size
      val engine = c.span("replay")(replay(lake, s"bulk:$replays", (ns, rec, n) => {
        walls += ns
        applied += n
        rec.foreach(recs += _)
      }))
      newest.foreach(n => Lake.deleteTree(Paths.get(n._2)))
      newest = None
      if (walls.size == before + batches) {
        replayWalls += walls.takeRight(batches).sum
        newest = Some((engine, lake))
        if (lakeBytesPerEvent == 0.0)
          lakeBytesPerEvent = Lake.dirBytes(Paths.get(lake)).toDouble / nEvents
      } else Lake.deleteTree(Paths.get(lake))
      c.log("replay: " + walls.takeRight(batches).map(w => f"${w / 1e6}%.0f")
        .mkString(" ") + " ms")
    } while ((walls.sum / 1e9 < seconds || replayWalls.size < minReplays) &&
      c.failures.isEmpty)
    // an untraced run checks its output once; a traced run reads back in
    // its traced phase, where the read paths are measured
    newest.foreach { case (engine, lake) =>
      if (c.tracer.enabled || (!readBackDone && !c.args.trace)) {
        c.tracer.newTrace()
        c.span("read_back")(readBack(engine))
        readBackDone = true
      }
      Lake.deleteTree(Paths.get(lake))
    }
    val wall = walls.sum
    // one like unit per replay: the mean batch wall of a whole replay
    val opMs = Stats.median(replayWalls.toSeq) / batches / 1e6
    Main.Phase(applied.toDouble, wall, opMs, replayWalls.size,
      Map("ingest_eps" -> applied / (wall / 1e9),
        "lake_bytes_per_event" -> lakeBytesPerEvent,
        "apply_ms.p50" -> Stats.median(walls.toSeq) / 1e6,
        "batches" -> walls.size.toDouble),
      if (recs.isEmpty) Map.empty
      else readLayers() ++ ApplyLayers(c, recs.toSeq) ++ extra)
  }

  /** Untimed read-back of a finished replay, each read checked against the
    * model (never against the engine): the root rows and child counts;
    * traced, also root-key lookups (live and deleted keys), a changefeed
    * poll from just before the last batch, and [[exercise]]. Traced,
    * these are the read paths' spans. */
  private def readBack(engine: Engine): Unit = {
    checkState(engine, "lake.scan")
    if (!c.tracer.enabled) return
    extra("lake.segments_live") = Lake.tables(engine, "repos")
      .map(_.snapshot().segments.size).sum.toDouble
    val root = Lake.root(engine, "repos")
    val ids = model.ids.toIndexedSeq.sorted
    (0 until lookups).foreach { _ =>
      val key = ids(c.rng.nextInt(ids.size))
      c.safe(s"lookup $key") {
        val rows = c.span("lake.read_where")(root.readWhere(col("ID") === key)
          .select(col("REV"), sha2(col("CONTENT"), 256)).collect())
        val want = model.winner(key).filter(_.op != "delete")
          .map(e => { val d = model.doc(e); (d.rev, d.sha) }).toSeq
        c.check(rows.map(r => (r.getString(0), r.getString(1))).toSeq == want,
          s"lookup $key: ${rows.length} rows, expected $want")
      }
    }
    c.safe("changefeed poll") {
      val rows = c.span("lake.changes_since")(root.readChangesSince(lastBatchLsn - 1)
        .filter(col("_change_type") === "upsert").select(col("ID")).collect())
      val want = ids.filter(k => model.winner(k).exists(w =>
        w.op != "delete" && w.lsn >= lastBatchLsn)).toSet
      c.check(rows.map(_.getString(0)).toSet == want && rows.length == want.size,
        s"changefeed: ${rows.length} upserts, expected ${want.size}")
    }
    exercise(engine)
  }

  /** Root rows by content sha256 and REV, and child-table row counts, as
    * the model has them; the root scan runs under span `scan`. */
  private def checkState(engine: Engine, scan: String): Unit = {
    val root = Lake.root(engine, "repos")
    c.safe(s"$scan root") {
      val rows = c.span(scan)(root.read()
        .select(col("ID"), col("REV"), sha2(col("CONTENT"), 256)).collect())
      val got = rows.map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
      val want = model.rootRows
      val bad = want.count { case (k, v) => !got.get(k).contains(v) }
      c.check(rows.length == want.size && got.size == want.size && bad == 0,
        s"$scan: ${rows.length} root rows vs ${want.size} expected, $bad differ")
    }
    c.safe(s"$scan children") {
      val kids = Lake.tables(engine, "repos").filterNot(_.name == root.name)
        .map(t => t.name -> t.read().count()).toMap
      model.childCounts.foreach { case (t, n) =>
        c.check(kids.getOrElse(t, 0L) == n, s"$t has ${kids.get(t)} rows, expected $n")
      }
    }
  }

  /** The traced read-back's writer and streaming paths, each checked:
    * a `Materialize.rollup` stream over the root's changefeed source
    * (per-LANG docs and content length, against a recompute from the
    * model); the last batch re-delivered with `incremental = true` (every
    * doc skipped as unchanged); `Engine.maintain` (compaction and vacuum),
    * after which the state must read back unchanged. */
  private def exercise(engine: Engine): Unit = {
    val root = Lake.root(engine, "repos")
    c.safe("materialized view") {
      val mvRoot = c.tmp(s"mv-$replays")
      val q = c.span("streaming.mv_fold") {
        val q = graft.streaming.Materialize.rollup(c.spark, engine.lakeRoot,
          root.name, mvRoot, "MV", "LANG",
          Map("CONTENT_LEN" -> length(col("CONTENT"))),
          c.tmp(s"mv-checkpoint-$replays"))
        try q.processAllAvailable() finally q.stop()
        q
      }
      extra("streaming.mv_fold.cdf_rows") =
        q.recentProgress.map(_.numInputRows).sum.toDouble
      val got = new graft.lake.LakeTable(c.spark, mvRoot, "MV").read()
        .select(col("LANG"), col("N"), col("CONTENT_LEN")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = model.langRollup
      c.check(got == want, s"materialized view: $got, recompute has $want")
    }
    c.safe("incremental re-delivery") {
      val st = c.span("engine.incr")(engine.applyEvents("repos",
        slice(batches - 1), s"redeliver:$replays", incremental = true))
      extra("engine.incr.skip_ratio") =
        st.skippedUnchanged.toDouble / math.max(1L, lastBatchDocs)
      c.check(st.skippedUnchanged == lastBatchDocs,
        s"re-delivery skipped ${st.skippedUnchanged} docs, expected $lastBatchDocs")
    }
    c.safe("maintain") {
      val before = Lake.segments(engine, "repos")
      c.span("lake.compact")(engine.maintain("repos", s"maintain:$replays"))
      extra("lake.compact.bytes_rewritten") = Lake.segments(engine, "repos")
        .collect { case (k, (_, bytes, _)) if !before.contains(k) => bytes }.sum.toDouble
    }
    checkState(engine, "lake.scan.compacted")
  }

  private def readLayers(): Map[String, Double] = {
    val t = c.tracer
    val sc = c.spark.sparkContext
    def spans(n: String) = t.all.filter(_.name == n)
    def medMs(n: String) = Stats.median(spans(n).map(s => s.end - s.start)) / 1e6
    def stages(n: String) = spans(n).map(s => t.stagesOf(t.jobsOf(s, sc)))
    def medIn(n: String) = Stats.medianD(stages(n).map(_.map(_.inBytes).sum.toDouble))
    val scanned = stages("lake.scan").map(_.map(_.inRecords).sum).sum
    Map(
      "lake.scan.ms" -> medMs("lake.scan"),
      "lake.scan.rows_examined_per_row" -> scanned.toDouble /
        math.max(1L, spans("lake.scan").size * model.liveIds.size.toLong),
      "lake.scan.compacted_ms" -> medMs("lake.scan.compacted"),
      "lake.read_where.ms" -> medMs("lake.read_where"),
      "lake.read_where.bytes_read" -> medIn("lake.read_where"),
      "lake.changes_since.ms" -> medMs("lake.changes_since"),
      "lake.changes_since.bytes_read" -> medIn("lake.changes_since"),
      "streaming.mv_fold.ms" -> medMs("streaming.mv_fold"),
      "engine.incr.wall_ms" -> medMs("engine.incr"),
      "lake.compact.ms" -> medMs("lake.compact"))
  }
}

/** `query_sweep`: the `SparkEntry.queries` harness over a fixed sf0.001
  * fixture, to a noop sink, after a warm pass whose outputs run.py checks
  * against each query's DuckDB oracle. */
final class QuerySweep(c: Ctx) extends Workload {
  /** Left out: queries that build an ANN index under a fixed /tmp path,
    * outside the benchmark's checkout; and the engine replays and reads
    * of the shared replay lakes other than `cdc_changefeed` and
    * `cdc_mv_rollup` — `ingest_bulk` measures those paths at a larger
    * scale, and with them one run would not fit the time budget. */
  val Excluded: Set[String] = Set("ann_lsh", "ann_recall", "ann_ivf",
    "ann_ivf_recall", "ann_ivf_clustered", "ann_clustered_recall",
    "engine_replay", "cdc_point_lookup", "cdc_changefeed_diff",
    "cdc_changefeed_multi", "cdc_changefeed_cdf", "cdc_incr_agg",
    "cdc_time_travel")

  // a fixed order: the sweep's inputs do not depend on the seed
  private val names: Seq[String] = {
    val all = SparkEntry.queries.keys.filterNot(Excluded).toSeq.sorted
    if (c.args.tiny) all.grouped(5).map(_.head).toSeq else all
  }
  private def dir = c.args.fixture

  def setup(): Unit = {
    val out = c.tmp("out")
    // the event tail that the engine-replay and stream_* oracles replay
    EventGen.events(c.spark, SparkEntry.entryParams, 8).toDF()
      .coalesce(1).write.mode("overwrite").parquet(s"$out/engine_events")
    // the warm pass runs `cores` queries at a time: a first execution is
    // mostly single-threaded planning, code generation and JIT work
    val pool = java.util.concurrent.Executors.newFixedThreadPool(c.args.cores)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    try names.map { n =>
      pool.submit(new Runnable {
        def run(): Unit = try SparkEntry.queries(n)(c.spark, dir)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
        catch { case e: Throwable => errors.add(s"warm query $n: $e") }
      })
    }.foreach(_.get())
    finally pool.shutdown()
    c.log("warm pass done")
    c.attempted += names.size
    errors.forEach(e => c.check(false, e))
    Files.writeString(Paths.get(out, "oracle_sql.json"), SparkEntry.oracleSql
      .filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}"))
  }

  def phase(seconds: Double): Main.Phase = {
    val walls = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Long]]()
    names.foreach(walls(_) = mutable.ArrayBuffer.empty[Long])
    val start = System.nanoTime()
    var ran = 0
    do {
      c.tracer.newTrace()
      val p0 = System.nanoTime()
      c.span("pass") {
        names.foreach { n =>
          c.safe(s"query $n") {
            val t0 = System.nanoTime()
            c.span(s"query.$n")(SparkEntry.queries(n)(c.spark, dir)
              .write.format("noop").mode("overwrite").save())
            walls(n) += System.nanoTime() - t0
            c.log(f"query $n: ${walls(n).last / 1e6}%.0f ms")
            ran += 1
          }
        }
      }
      c.log(f"sweep pass: ${(System.nanoTime() - p0) / 1e9}%.2f s")
    } while ((System.nanoTime() - start) / 1e9 < seconds)
    val perQuery = walls.collect { case (n, ws) if ws.nonEmpty =>
      n -> Stats.median(ws.toSeq) / 1e6 }
    val report = Map(
      "sweep_geomean_ms" -> Stats.geomean(perQuery.values.toSeq),
      "sweep_total_s" -> perQuery.values.sum / 1000,
      "queries" -> perQuery.size.toDouble,
      "passes" -> walls.values.map(_.size).maxOption.getOrElse(0).toDouble)
    Main.Phase(ran.toDouble, walls.values.map(_.sum).sum,
      Stats.geomean(perQuery.values.toSeq), ran, report,
      if (c.tracer.enabled) layers(perQuery.toMap) else Map.empty)
  }

  private def family(n: String): String = n match {
    case q if q.matches("q[0-9]+_.*") => "sql"
    case q if q.startsWith("dedup_") => "dedup"
    case q if q.startsWith("ann_") || q.startsWith("emb_") => "ann"
    case q if q.startsWith("text_") => "text"
    case q if q.startsWith("sample_") => "sample"
    case q if q.startsWith("mm_") => "mm"
    case q if q.startsWith("stream_") => "stream"
    case _ => "cdc"
  }

  private def layers(perQuery: Map[String, Double]): Map[String, Double] = {
    val t = c.tracer
    val sc = c.spark.sparkContext
    val passes = math.max(1, t.all.count(_.name == "pass"))
    val cpu = perQuery.keys.map { n =>
      n -> t.all.filter(_.name == s"query.$n").map(s =>
        t.stagesOf(t.jobsUnder(s, sc)).map(_.cpuNs).sum).sum / 1e6 / passes
    }.toMap
    val byFam = perQuery.keys.groupBy(family)
    perQuery.map { case (n, ms) => s"query.$n.ms" -> ms } ++
      byFam.flatMap { case (f, ns) => Seq(
        s"family.$f.ms" -> Stats.geomean(ns.toSeq.map(perQuery)),
        s"family.$f.task_cpu_ms" -> ns.toSeq.map(cpu).sum) }
  }
}

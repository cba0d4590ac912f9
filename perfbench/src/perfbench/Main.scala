package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.catalog.Catalog
import graft.engine.Engine
import graft.lake.LakeTable

/** The benchmark's JVM side. One process, `local[nproc]`, one client in a
  * closed loop. Run through `perfbench/run.py`, which builds the classes,
  * owns the temp dir and checks the sweep's outputs with DuckDB.
  *
  * Arguments (all required): --workload ingest_bulk|query_sweep
  * --seed N --seconds S --trace 0|1 --scale full|tiny --tmp DIR --out DIR
  * --fixture DIR --cores N. Writes `result.json` into
  * --tmp and, traced, the spans into --out. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, tiny: Boolean, tmp: String, out: String,
      fixture: String, cores: Int)

  /** Everything one timed phase measured. `units` is the workload's unit
    * of work (events applied, or queries run); `opMs` the headline
    * latency over `samples` operations; `extra` the workload's own
    * end-to-end figures for the report. */
  final case class Phase(units: Double, wallNs: Long, opMs: Double,
      samples: Int, extra: Map[String, Double], layer: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val kv = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("scale") == "tiny", kv("tmp"), kv("out"),
      kv("fixture"), kv("cores").toInt)
    val spark = session(a)
    val probeBefore = probe(a.cores)
    val c = new Ctx(spark, a, t0)
    val w: Workload = a.workload match {
      case "ingest_bulk" => new IngestBulk(c)
      case "query_sweep" => new QuerySweep(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    c.log("session up")
    c.safe("setup")(w.setup())
    c.log("setup done")
    val setupS = (System.nanoTime() - t0) / 1e9
    // each phase starts from a collected heap
    System.gc()
    val gc0 = gcMs()
    def e2e(p: Phase): Map[String, Double] = Map(
      "work_rate" -> p.units / (p.wallNs / 1e9),
      "op_ms" -> p.opMs)
    val metrics = mutable.LinkedHashMap[String, Double]()
    val layer = mutable.LinkedHashMap[String, Double]()
    val shown = if (!a.trace) {
      val p = w.phase(a.seconds)
      metrics ++= e2e(p)
      p
    } else {
      // a traced phase between two untraced ones: the JVM still warms up
      // from phase to phase, and bracketing cancels that drift out of the
      // tracing overhead (traced ÷ mean of untraced − 1)
      val before = w.phase(a.seconds / 3)
      val tracer = new Tracer(true)
      c.tracer = tracer
      spark.sparkContext.addSparkListener(tracer.listener)
      val traced = tracer.span("phase")(w.phase(a.seconds / 3))
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer.listener)
      c.tracer = new Tracer(false)
      val after = w.phase(a.seconds / 3)
      val (on, b, f) = (e2e(traced), e2e(before), e2e(after))
      on.foreach { case (k, v) =>
        layer(s"trace.overhead.$k") = v / ((b(k) + f(k)) / 2) - 1 }
      layer ++= traced.layer ++ tracer.sparkTotals(spark.sparkContext)
      Files.createDirectories(Paths.get(a.out))
      Files.writeString(Paths.get(a.out,
        s"spans-${a.workload}-${a.seed}.json"), tracer.toJson)
      metrics ++= e2e(traced)
      traced
    }
    layer("spark.gc_ms") = (gcMs() - gc0).toDouble
    val probeAfter = probe(a.cores)
    metrics("setup_s") = setupS
    val json = new StringBuilder
    json.append("{")
    json.append(s""""attempted":${c.attempted},"failed":${c.failures.size},""")
    json.append(s""""failures":${Json.strs(c.failures.take(20).toSeq)},""")
    json.append(s""""probe_s":[${probeBefore},${probeAfter}],""")
    json.append(s""""samples":${shown.samples},""")
    json.append(s""""metrics":${Json.nums(metrics.toSeq)},""")
    json.append(s""""report":${Json.nums(shown.extra.toSeq :+ ("peak_rss_mb" -> peakRssMb()))},""")
    json.append(s""""layer":${Json.nums(layer.toSeq)}}""")
    Files.writeString(Paths.get(a.tmp, "result.json"), json.toString)
    c.log("result written")
    spark.stop()
    c.log("session stopped")
  }

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a.tmp}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.tmp}/warehouse")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Host-window stamp: `graft.Bench`'s pure-ALU probe on `cores` threads,
    * ~0.2 s a reading. A contended window reads slower; run.py flags such
    * runs and never drops or rescales a sample because of it. */
  private def probe(cores: Int): Double =
    graft.Bench.cpuProbe(threads = cores, itersPerThread = 80000000L)

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"))
      .toArray.map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }
}

/** Shared run state: session, tracer, attempted/failed op tallies. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val t0: Long) {
  var tracer = new Tracer(false)
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val rng = new java.util.Random(args.seed * 1000003L + 17L)

  def tmp(name: String): String = {
    val p = Paths.get(args.tmp, name)
    Files.createDirectories(p)
    p.toString
  }

  /** Progress line on stderr (run.py --verbose shows it). */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%8.2f s  $msg")

  /** One attempted operation; an exception counts as a failed one. */
  def safe[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        .take(400)
      None
    }
  }

  /** An output check that is part of an already-counted operation. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) failures += what.take(400)

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

trait Workload {
  def setup(): Unit
  def phase(seconds: Double): Main.Phase
}

/** Helpers over one engine entity's lake tables. */
object Lake {
  def tables(engine: Engine, entity: String): Seq[LakeTable] =
    engine.loadRegistry(entity).toSeq
      .flatMap(t => Catalog.fromTree(t)).map(engine.table).filter(_.exists())

  def root(engine: Engine, entity: String): LakeTable =
    engine.table(Catalog.fromTree(engine.loadRegistry(entity).get)
      .find(_.isRoot).get)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().forEachRemaining(x => Files.deleteIfExists(x))
      finally s.close()
    }

  /** Live segments of every table: (table/segment path) → (kind, bytes,
    * files). Used to see what a commit or compaction wrote. */
  def segments(engine: Engine, entity: String): Map[String, (String, Long, Long)] =
    tables(engine, entity).flatMap { t =>
      t.snapshot().segments.map { seg =>
        val p = Paths.get(engine.lakeRoot, t.name, seg.path)
        val (bytes, files) =
          if (!Files.exists(p)) (0L, 0L)
          else {
            val s = Files.walk(p)
            try {
              val fs = s.filter(f => Files.isRegularFile(f) &&
                !f.getFileName.toString.startsWith(".")).toArray
              (fs.map(f => Files.size(f.asInstanceOf[Path])).sum, fs.length.toLong)
            } finally s.close()
          }
        s"${t.name}/${seg.path}" -> (seg.kind, bytes, files)
      }
    }.toMap
}

object Stats {
  def median(xs: Seq[Long]): Double = quantile(xs.map(_.toDouble), 0.5)
  def medianD(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def strs(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
  def nums(xs: Seq[(String, Double)]): String = xs.map { case (k, v) =>
    val n = if (v.isNaN || v.isInfinite) "null" else v.toString
    s"${str(k)}:$n"
  }.mkString("{", ",", "}")
}

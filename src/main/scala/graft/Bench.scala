package graft

import org.apache.spark.sql.SparkSession

import graft.catalog.Catalog
import graft.cdc.EventGen
import graft.engine.Engine

/** Benchmark main (driver-run per round → BENCH_r{N}.json).
  *
  * Headline metric (BENCH.md / BASELINE.md): sustained change-events/sec
  * applied by the CDC engine (full replay → final state) at two cluster
  * sizes — N vs 4N real executor JVMs via local-cluster, the sandbox
  * evidence protocol for the north rule's two-cluster-size criterion —
  * plus the per-query wall times of the SparkEntry harness.
  *
  * Output: ONE bare JSON line, the FINAL line on stdout (build.sbt inherits
  * forked stdout raw and suppresses sbt's success banner so the driver's
  * parse sees clean JSON), plus a BENCH_LOCAL.json copy on disk.
  */
object Bench {
  /** Pure-ALU host-steal probe (VERDICT r6 #1 — the artifact of record
    * must carry its own window-quality evidence): a fixed splitmix64
    * mixing workload split across `threads` JVM threads, no allocation,
    * no Spark, no IO — wall time moves ONLY with CPU availability. 8 of
    * 32 threads: enough parallelism to see steal, far from saturating
    * the box. Each call self-warms (1/16 of the work first) so the first
    * reading isn't JIT-skewed. Quiet reference on this sandbox:
    * [[ProbeQuietSecs]] (override via GRAFT_PROBE_QUIET). */
  def cpuProbe(threads: Int = 8, itersPerThread: Long = 1200000000L): Double = {
    def mixRun(n: Long, seed: Long): Long = {
      var z = seed
      var acc = 0L
      var i = 0L
      while (i < n) { // splitmix64 finalizer — public-domain constants
        z += 0x9E3779B97F4A7C15L
        var x = z
        x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
        x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
        acc ^= x ^ (x >>> 31)
        i += 1
      }
      acc
    }
    val sink = new java.util.concurrent.atomic.AtomicLong()
    // per-thread elapsed, MEDIAN across threads: a wall-clock max-of-N
    // jitters ±20% on a quiet box (any one thread briefly descheduled
    // drags the join), while the median moves only when contention is
    // broad — which is also the only contention that moves the bench
    def pass(n: Long): Double = {
      val elapsed = new Array[Long](threads)
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => {
          val s = System.nanoTime()
          sink.addAndGet(mixRun(n, t + 1L))
          elapsed(t) = System.nanoTime() - s
        })
        th.start(); th
      }
      ts.foreach(_.join())
      val sorted = elapsed.sorted
      sorted(threads / 2) / 1e9
    }
    pass(itersPerThread / 16) // JIT warm
    // min of two passes: this host's micro-steal lifts lone readings
    // ~1.3x on an otherwise-quiet box (measured); a burst broad enough
    // to bias the bench lifts both back-to-back passes
    math.min(pass(itersPerThread), pass(itersPerThread))
  }

  /** Calibrated quiet-host reading of [[cpuProbe]] with defaults (8
    * threads × 1.2·10⁹ mixes, min-of-2 median-thread) on this 32-vCPU
    * sandbox: quiet band measured 1.23-1.41 s over 8 consecutive runs.
    * Re-calibrate from repeated [[cpuProbe]] readings on a quiet box
    * when the box changes; override per-run via GRAFT_PROBE_QUIET. */
  val ProbeQuietSecs: Double = 1.30

  /** local-cluster launches real executor processes and needs SPARK_HOME /
    * SPARK_SCALA_VERSION in the env. build.sbt sets them for sbt-forked
    * runs; anything else must provide them (fail fast, no env mutation). */
  private def requireEnv(): Unit = {
    val missing = Seq("SPARK_HOME", "SPARK_SCALA_VERSION")
      .filterNot(sys.env.contains)
    require(missing.isEmpty,
      s"missing env ${missing.mkString(",")} — run via sbt (build.sbt sets " +
        "them) or export SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13")
  }

  private def newSession(cores: Int): SparkSession = {
    // the sandbox has ONE vm disk (~500 MB/s) behind all 32 cores; a real
    // cluster's shuffle/sink bandwidth scales with executors. RAM-backed
    // dirs remove the shared-disk artifact so the two-parallelism run
    // measures the engine, not the single spindle (BASELINE.md protocol)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get("/dev/shm/graft-bench"))
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.local.dir", "/dev/shm/graft-bench/spark-local")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** lsn-range slices the event cache is partitioned by: a micro-batch
    * reads ONLY its own slices' files (PartitionFilters), the way a real
    * tail reads only its new WAL segment — without this, every batch
    * re-scans the whole cached tail and multi-batch replay measures
    * read amplification the production shape doesn't have (measured:
    * 0.745 "efficiency" at 4 batches, an artifact). */
  private val EventSlices = 32

  /** One-time event materialization: the change-event tail as parquet (the
    * realistic WAL-read shape; generation excluded from all timed runs).
    * RAM-backed so both parallelism levels read at memory speed — the
    * shared single disk is a sandbox artifact, not an engine property. */
  private def eventsDir(spark: SparkSession, n: Long): String = {
    import org.apache.spark.sql.functions._
    val dir = s"/dev/shm/graft-bench/events-$n-s$EventSlices"
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir))) {
      // wide key space: a 10^10-event feed spans millions of files, so a
      // micro-batch is mostly distinct keys (dup factor ~2) — post-dedup
      // flatten/merge work dominates, which is what must scale.
      // FIXED 32-way partitioning: generating with the current session's
      // defaultParallelism poisons the cache — events written under the
      // 1-executor session produce 2 big files, which caps the (JSON-
      // extraction-heavy) map stage at ~2 tasks and silently destroys the
      // 4N level's scaling (this, not the engine, was round 1's recorded
      // 0.546 efficiency)
      val p = EventGen.Params(nEvents = n, nRepos = 2000, pathsPerRepo = 500)
      val per = math.max(1L, n / EventSlices)
      EventGen.events(spark, p, partitions = 32).toDF()
        .withColumn("slice",
          least(lit(EventSlices - 1), (col("lsn") / per).cast("int")))
        .write.partitionBy("slice").mode("overwrite").parquet(dir)
    }
    dir
  }

  /** Replay `n` events through the engine in `batches` micro-batches into
    * a fresh lake; returns wall seconds (read + apply, generation excluded).
    * Each batch's scan prunes to its own lsn slices (see [[EventSlices]]). */
  private def replay(spark: SparkSession, n: Long, batches: Int,
      buckets: Int): Double = {
    import org.apache.spark.sql.functions.col
    require(EventSlices % batches == 0,
      s"batches must divide $EventSlices event slices")
    val lake = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/dev/shm/graft-bench"), "lake-").toString
    val engine = new Engine(spark, lake, numBuckets = buckets)
    val all = spark.read.parquet(eventsDir(spark, n))
    val per = n / batches
    val slicesPer = EventSlices / batches
    val t0 = System.nanoTime()
    (0 until batches).foreach { b =>
      val hi = if (b == batches - 1) n else (b + 1) * per
      engine.applyEvents("repos",
        all.filter(col("slice") >= b * slicesPer &&
          col("slice") < (b + 1) * slicesPer &&
          col("lsn") >= b * per && col("lsn") < hi).drop("slice"),
        s"bench:$b")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    // sanity: root table exists and is non-trivial
    val spec = Catalog.fromTree(engine.loadRegistry("repos").get)
      .find(_.isRoot).get
    require(engine.table(spec).read().count() > 0)
    // free the RAM-backed lake before the next run (in-process walk)
    deleteTree(java.nio.file.Paths.get(lake))
    secs
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().forEachRemaining(x =>
          java.nio.file.Files.deleteIfExists(x))
      finally s.close()
    }

  def main(args: Array[String]): Unit = {
    requireEnv()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // batch size matters: a 1000-executor cluster feeds millions of events
    // per micro-batch, so per-batch compute must dominate the fixed
    // per-batch cost (driver planning + job scheduling + listener-bus
    // latency for the 7 concurrent merge Observations ≈ 1.5 s/batch,
    // measured) for the scaling measurement to be meaningful. The
    // RECORDED shape is therefore 4 batches × 1M events — a real tail's
    // cadence including per-batch commit overheads — plus a single-batch
    // reference sample for cross-round comparability. 500k-event batches
    // under-size the work per commit and measure scheduling, not the
    // engine (0.74 "efficiency" — an artifact, see BENCH.md).
    val nEvents = sys.env.getOrElse("GRAFT_BENCH_EVENTS", "4000000").toLong
    val batches = sys.env.getOrElse("GRAFT_BENCH_BATCHES", "4").toInt
    val nEvents1 = math.min(nEvents, 2000000L) // single-batch reference

    // --- CDC replay at N vs 4N EXECUTORS (scaling evidence) ---
    // Runs FIRST, on a clean driver JVM: the 29-query harness phase
    // leaves the driver with a churned heap (plan caches, AQE state,
    // listener-bus backlog) whose GC pauses land on the scheduling
    // critical path — measured as a 2-3x slowdown of the 4N level
    // specifically (short stages, driver-bound) while N barely noticed.
    // local-cluster spawns real executor JVMs — the honest sandbox analog
    // of two cluster sizes (north rule: N and 4N executors). Executor
    // sizing 2 cores / 3g: on this single box the JSON/UTF8-heavy
    // pipeline saturates memory bandwidth around ~8-16 threads (beyond
    // that, executorCpuTime per unit work inflates ~1.5x even across
    // separate executor JVMs, while pure-ALU jobs keep scaling); a real
    // cluster adds bandwidth with every node. Below saturation both
    // levels run fully cpu-busy with run≈cpu, so the measurement
    // reflects the ENGINE's parallel behavior. AQE off here: per-stage
    // materialization barriers dominate at miniature batch sizes (it
    // stays ON for the harness).
    val execCores = sys.env.getOrElse("GRAFT_EXEC_CORES", "2").toInt
    def clusterSession(execs: Int): SparkSession = {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get("/dev/shm/graft-bench"))
      val s = SparkSession.builder()
        .master(s"local-cluster[$execs,$execCores,12288]")
        .appName(s"graft-bench-cluster-$execs")
        .config("spark.executor.memory",
          sys.env.getOrElse("GRAFT_EXEC_MEM", "3g")) // heap ≠ worker capacity
        .config("spark.locality.wait", "0s") // don't idle for cache-local slots
        .config("spark.executor.extraClassPath",
          new java.io.File("target/scala-2.13/classes").getAbsolutePath)
        .config("spark.local.dir", "/dev/shm/graft-bench/spark-local")
        // even a badly-partitioned input must split into enough read
        // tasks to feed 4 executors (default 128m → 2 splits for a 233MB
        // tail; the map side is the compute-dense JSON stage)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        // partitions = cores × mult at BOTH levels (same tuning rule).
        // mult 2 since r5: at quiet 8/16/24 reducers measured identical
        // (31.1-31.3 s, r4), but under host contention the finer task
        // granularity lets the scheduler route around stolen cores —
        // measured 32.0-32.3 s vs 35.2-35.8 s highs in the same slow
        // window (mult-2 vs mult-1 replays, r5)
        .config("spark.sql.shuffle.partitions",
          sys.env.get("GRAFT_PART_FIXED").map(_.toInt).getOrElse(
            execs * execCores * sys.env.getOrElse("GRAFT_PART_MULT", "2").toInt))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled",
          sys.env.getOrElse("GRAFT_BENCH_AQE", "false"))
        // Straggler mitigation for stolen-core hosts: re-launch a task
        // running 1.5x past the 75th percentile of its stage. On a real
        // cluster this is the standard defense against slow nodes; here
        // it routes around host CPU steal pinning one executor's core.
        // Write-safe: task commits go through the OutputCommitCoordinator,
        // so a speculative duplicate never double-commits part files.
        .config("spark.speculation",
          sys.env.getOrElse("GRAFT_BENCH_SPECULATION", "false"))
        .config("spark.speculation.interval", "200ms")
        .config("spark.speculation.quantile", "0.75")
        .config("spark.speculation.multiplier", "1.5")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    // Sampling plan vs host CPU steal (single samples swing 2x+ here):
    // `rounds` passes, each pass = one session per level taking `samples`
    // back-to-back replays (sessions are the expensive part — executor
    // JVM spinup ~10s — so samples share them; interleaving across passes
    // still decorrelates steal between levels). Best (min) wall per level
    // wins; a time budget skips remaining samples rather than risking the
    // harness timeout.
    val benchT0 = System.nanoTime()
    val budgetSecs = sys.env.getOrElse("GRAFT_BENCH_BUDGET_SECS", "660").toInt
    // Self-qualification (VERDICT r6 #1): interleave pure-CPU steal-probe
    // readings with the scaling rounds and embed them — plus a
    // clean/degraded/unusable verdict — in the emitted JSON, so a
    // host-contended capture is identifiable FROM THE ARTIFACT ALONE
    // (r6's artifact recorded an inflated 0.903 efficiency and a 33%-
    // understated eps from one stolen window, detectable only via side
    // files). ~2 s per reading against a 660 s budget.
    val probeQuiet = sys.env.get("GRAFT_PROBE_QUIET").map(_.toDouble)
      .getOrElse(ProbeQuietSecs)
    val probes = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def probe(label: String): Unit = probes += label -> cpuProbe()
    probe("pre")
    // launch-residue settle (r7-w6 forensics: a stationary window was
    // labeled degraded on the PRE probe alone — sbt/compile residue, not
    // steal, since every in-window probe read quiet). A hot pre probe
    // gets one settled retake after 10 s; BOTH readings stay in the
    // artifact, and the verdict ignores the hot `pre` only when
    // `pre_settled` is quiet — real pre-existing steal still fires on
    // the settled reading. No timed work runs before either.
    if (probes.last._2 > probeQuiet * 1.15) {
      Thread.sleep(10000)
      probe("pre_settled")
    }
    // Protocol v3 (r5): 3 rounds × 1 sample per level, each level-session
    // warmed with a FULL-shape replay first. The measured first-sample
    // ramp (~3-5 s absolute — 10-15% of a high wall, ~4% of a low wall)
    // decays only over FULL replays (growing a partial warm-up does not
    // remove it, r4 measurement), so the full warm removes it at BOTH
    // levels and a single post-warm sample per level is ramp-free; a
    // full low warm + 1 sample costs the same as the old 100k warm +
    // best-of-2 (≈ 210 s) while measuring strictly later in the decay.
    // THREE paired rounds mean the median sheds one entirely-stolen
    // round (2-round medians average the stolen round in — r5 recorded
    // 0.755 from paired [0.673 stolen, 0.838 quiet]); the 620 s entry
    // budget admits round 3 when the host is fast enough (~300 s/round)
    // and self-limits to 2 rounds when it is slow.
    val rounds = sys.env.getOrElse("GRAFT_BENCH_ROUNDS", "3").toInt
    val samples = sys.env.getOrElse("GRAFT_BENCH_SAMPLES", "1").toInt
    def withinBudget: Boolean =
      (System.nanoTime() - benchT0) / 1e9 < budgetSecs
    val lows = scala.collection.mutable.ArrayBuffer.empty[Double]
    val highs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // per-round minima — the paired estimator's inputs (lows/highs keep
    // every raw sample for the JSON record)
    val pairLows = scala.collection.mutable.ArrayBuffer.empty[Double]
    val pairHighs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val lows1 = scala.collection.mutable.ArrayBuffer.empty[Double]
    val highs1 = scala.collection.mutable.ArrayBuffer.empty[Double]
    var warm = 0.0
    var spark: SparkSession = null
    // EVERY session gets a warm-up replay: executor JVMs are fresh per
    // session and an unJITed engine runs 40-50% slower (measured — warming
    // only round 0's sessions made every later window useless: highs went
    // 13.7 → 21 s purely from cold executors, not host steal)
    def warmUp(s: SparkSession): Double =
      replay(s, math.min(nEvents / 20, 100000), 1, 32)
    // ... then a FULL-shape warm replay (protocol v3 — see sampling note)
    def warmUpFull(s: SparkSession): Double =
      replay(s, nEvents, batches, 32)
    // Budget gates ROUND ENTRY only: an entered round always records one
    // low AND one high sample — a mid-round budget trip that recorded a
    // low-only window would bias the min-based efficiency estimator
    // (extra draws shrink whichever level's min gets them).
    // Within a round the two levels run back-to-back (the paired
    // estimator's premise); the ORDER ALTERNATES per round (low-first on
    // even rounds, high-first on odd) so a monotonic host-load drift
    // across the run cannot systematically land on one level — measured
    // r4: a slow second half put every high window 12-15% over the quiet
    // band while lows stayed flat, an artifact alternation halves.
    (0 until rounds).foreach { round =>
      if (round == 0 || withinBudget) {
        def lowPhase(): Unit = {
          spark = clusterSession(1)
          val w = warmUp(spark)
          if (round == 0) warm = w
          warmUpFull(spark)
          val mine = scala.collection.mutable.ArrayBuffer.empty[Double]
          (0 until samples).foreach { i =>
            if (i == 0 || withinBudget)
              mine += replay(spark, nEvents, batches, 32)
          }
          lows ++= mine
          pairLows += mine.min
          spark.stop()
        }
        def highPhase(): Unit = {
          spark = clusterSession(4)
          warmUp(spark)
          warmUpFull(spark)
          val mine = scala.collection.mutable.ArrayBuffer.empty[Double]
          (0 until samples).foreach { i =>
            if (i == 0 || withinBudget)
              mine += replay(spark, nEvents, batches, 32)
          }
          highs ++= mine
          pairHighs += mine.min
          spark.stop()
        }
        if (round % 2 == 0) { lowPhase(); highPhase() }
        else { highPhase(); lowPhase() }
        probe(s"after_r$round")
      }
    }
    // single-batch reference samples LAST, on leftover budget only —
    // cross-round comparability is secondary to the paired headline
    if (batches > 1 && withinBudget) {
      spark = clusterSession(1)
      warmUp(spark)
      lows1 += replay(spark, nEvents1, 1, 32)
      spark.stop()
      spark = clusterSession(4)
      warmUp(spark)
      highs1 += replay(spark, nEvents1, 1, 32)
      spark.stop()
    }
    val tLow = lows.min
    val tHigh = highs.min
    val epsLow = nEvents / tLow
    val epsHigh = nEvents / tHigh
    // Two estimators (BASELINE.md protocol):
    //  - PAIRED-MEDIAN (the headline): within each round the low and high
    //    phases run back-to-back and each contributes its BEST-OF-`samples`
    //    wall (the first replay of a fresh session carries a measured
    //    3-5 s ramp that hits the short high walls 4× harder relatively);
    //    a host-steal burst lands on BOTH sides of a round's ratio, and
    //    the median across rounds tolerates one fully-stolen round.
    //  - MIN-PAIR (recorded alongside, r1-r3 comparability): best low vs
    //    best high across all rounds.
    probe("post_scaling")
    val pairedEffs = pairLows.zip(pairHighs)
      .map { case (l, h) => l / (4.0 * h) }.toSeq
    val sortedEffs = pairedEffs.sorted
    val efficiency =
      if (sortedEffs.isEmpty) tLow / (4.0 * tHigh)
      else if (sortedEffs.size % 2 == 1) sortedEffs(sortedEffs.size / 2)
      else (sortedEffs(sortedEffs.size / 2 - 1) +
        sortedEffs(sortedEffs.size / 2)) / 2
    val efficiencyMin = tLow / (4.0 * tHigh)
    val single =
      if (lows1.isEmpty || highs1.isEmpty) ""
      else {
        val l1 = lows1.min; val h1 = highs1.min
        val e1 = (nEvents1 / h1) / (4.0 * (nEvents1 / l1))
        s""""single_batch":{"events":$nEvents1,""" +
          s""""secs_low":${f"$l1%.2f"},"secs_high":${f"$h1%.2f"},""" +
          s""""samples_low":${lows1.map(x => f"$x%.2f").mkString("[", ",", "]")},""" +
          s""""samples_high":${highs1.map(x => f"$x%.2f").mkString("[", ",", "]")},""" +
          s""""eps_high":${f"${nEvents1 / h1}%.1f"},""" +
          s""""scaling_efficiency":${f"$e1%.3f"}},"""
      }

    // --- per-query harness timings at full parallelism (after the
    // scaling measurement — see ordering note above) ---
    val skipQueries = sys.env.get("GRAFT_BENCH_SKIP_QUERIES").contains("1")
    val queryTimes =
      if (skipQueries) Nil
      else {
        spark = newSession(cpus)
        // one-time index builds OUTSIDE the timed region: ann_lsh must
        // measure the partition-pruned probe, not index construction
        SparkEntry.prepare(spark, sfDir)
        val times = SparkEntry.queries.toSeq.sortBy(_._1).map {
          case (name, fn) =>
            val t0 = System.nanoTime()
            val ok = try {
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              true
            } catch { case _: Throwable => false }
            name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
        }
        spark.stop()
        times
      }
    probe("post")

    // --- window-quality verdict (probe readings + estimator internals;
    // the rules encode round 4-6 forensics): a paired ratio ABOVE 1 means
    // the low sample itself was stolen — the one failure mode that
    // INFLATES efficiency — and is disqualifying on its own; probe
    // readings over the quiet band or a wide low-wall spread mark
    // contention that overstates wall times (degraded) ---
    // a superseded launch probe (quiet settled retake follows) is kept in
    // the artifact but doesn't drive the verdict — no timed work ran yet
    val verdictProbes =
      if (probes.exists { case (l, s) =>
          l == "pre_settled" && s <= probeQuiet * 1.15 })
        probes.filterNot(_._1 == "pre")
      else probes.toSeq
    val worstProbe = verdictProbes.map(_._2).max / probeQuiet
    val lowSpread = if (lows.size >= 2) lows.max / lows.min else 1.0
    val reasons = scala.collection.mutable.ArrayBuffer.empty[String]
    pairedEffs.zipWithIndex.filter(_._1 > 1.0).foreach { case (e, i) =>
      reasons += f"paired ratio round$i $e%.3f > 1 - stolen LOW sample (inflates efficiency)"
    }
    verdictProbes.filter(_._2 > probeQuiet * 1.15).foreach { case (l, s) =>
      reasons += f"probe $l $s%.2f s = ${s / probeQuiet}%.2fx quiet"
    }
    if (lowSpread > 1.25)
      reasons += f"low-level walls spread $lowSpread%.2fx across rounds (mid-window steal drift)"
    // Paired-efficiency dispersion: under a stationary host the per-round
    // ratios cluster (r7-w2 spread 1.03x, r7-w3 1.24x); a spread beyond
    // 1.3x means steal landed INSIDE one side of some round — the failure
    // mode that deflates ratios while every between-phase probe reads
    // quiet (r7-w4: paired [0.595,0.545,0.752] = 1.38x spread, probes all
    // <=1.06x quiet). The median still bounds it, but the window is not
    // stationary and can't be called clean.
    val effSpread =
      if (pairedEffs.size >= 2) pairedEffs.max / pairedEffs.min else 1.0
    if (effSpread > 1.3)
      reasons += f"paired efficiencies spread $effSpread%.2fx across rounds (intra-phase steal; non-stationary window)"
    // A SHORT capture (budget admitted fewer rounds than requested) has a
    // median that cannot shed a stolen round — a 2-round median is just a
    // mean. Harmless when the rounds agree; when they disperse, the
    // estimate inherits whatever steal landed in one of them and the
    // window must not read clean (r7-w10/w11: paired [0.853, 0.714] /
    // [0.873, 0.716] on slow host-days whose >100 s lows pushed round-2
    // entry past the budget — both carried verdict "clean" before this
    // rule). GRAFT_BENCH_BUDGET_SECS raises the budget when a full
    // 3-round capture matters more than the wall-clock bound.
    if (pairedEffs.size < rounds && effSpread > 1.15)
      reasons += f"only ${pairedEffs.size} of $rounds rounds fit the budget and they disperse $effSpread%.2fx - the short median cannot shed a stolen round"
    // the degenerate short capture: ONE round has no dispersion evidence
    // at all — it can neither shed nor even detect a stolen round, so it
    // must never read clean regardless of spread (which defaults to 1.0)
    if (pairedEffs.size == 1 && rounds > 1)
      reasons += s"single-round capture (budget admitted 1 of $rounds rounds) - no dispersion evidence; estimate cannot shed or detect steal"
    val quality =
      if (pairedEffs.exists(_ > 1.0) || worstProbe > 1.6) "unusable"
      else if (reasons.nonEmpty) "degraded"
      else "clean"
    val windowJson =
      s""""window":{"quality":"$quality",""" +
      s""""probe_quiet_secs":${f"$probeQuiet%.2f"},""" +
      s""""probe_secs":${probes.map { case (l, s) =>
        s""""$l":${f"$s%.2f"}""" }.mkString("{", ",", "}")},""" +
      s""""worst_probe_over_quiet":${f"$worstProbe%.2f"},""" +
      s""""rounds_completed":${pairedEffs.size},"rounds_requested":$rounds,""" +
      s""""low_spread":${f"$lowSpread%.2f"},""" +
      s""""eff_spread":${f"$effSpread%.2f"},""" +
      s""""reasons":${reasons.map(r => s""""$r"""").mkString("[", ",", "]")}}"""

    val qs = queryTimes.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"cdc_events_per_sec","value":${f"$epsHigh%.1f"},""" +
      s""""unit":"events/sec",$windowJson,"queries":$qs,"sf":"$sfDir",""" +
      s""""cdc":{"events":$nEvents,"batches":$batches,$single""" +
      s""""executors_low":1,"executors_high":4,"cores_per_executor":$execCores,""" +
      s""""secs_low":${f"$tLow%.2f"},"secs_high":${f"$tHigh%.2f"},""" +
      s""""samples_low":${lows.map(x => f"$x%.2f").mkString("[", ",", "]")},""" +
      s""""samples_high":${highs.map(x => f"$x%.2f").mkString("[", ",", "]")},""" +
      s""""eps_low":${f"$epsLow%.1f"},"eps_high":${f"$epsHigh%.1f"},""" +
      s""""paired_efficiencies":${pairedEffs.map(x => f"$x%.3f").mkString("[", ",", "]")},""" +
      s""""scaling_efficiency":${f"$efficiency%.3f"},""" +
      s""""scaling_efficiency_minpair":${f"$efficiencyMin%.3f"},""" +
      s""""warm":${f"$warm%.2f"}}}"""
    // file copy for post-hoc inspection; stdout line is the driver artifact
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LOCAL.json"), json + "\n")
    println(json)
  }
}

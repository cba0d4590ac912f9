package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.cdc.EventGen
import graft.engine.Engine
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}

/** Driver contract — one entry per implemented operator (SURVEY.md §2 +
  * the training-data pipeline operators), with DuckDB oracle SQL where the
  * semantics are ANSI-expressible. Column names are aligned between the
  * Spark plan and the oracle; float aggregates are rounded identically on
  * both sides. */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The flagship's deterministic event tail — ALSO dumped to parquet by
    * `Verify` so the DuckDB oracle can independently replay it
    * (last-lsn-per-key window + delete filter + sha256). */
  val entryParams: EventGen.Params =
    EventGen.Params(nEvents = 2000, nRepos = 20, pathsPerRepo = 10)

  /** Flagship: the CDC engine itself — replay a deterministic change-event
    * tail (inserts/updates/deletes, duplicates, mid-stream evolution) into
    * lake tables and return the final root state. */
  def entry(spark: SparkSession): DataFrame = {
    val lake = java.nio.file.Files
      .createTempDirectory("graft-entry-lake-").toString
    buildEntryLake(spark, lake)
    entryRootTable(spark, lake).read()
      .select(col("ID"), col("REV"), sha2(col("CONTENT"), 256).as("content_sha"))
      .orderBy("ID")
  }

  private def buildEntryLake(spark: SparkSession, lake: String): Unit = {
    import spark.implicits._
    val engine = new Engine(spark, lake, numBuckets = 16)
    engine.applyEvents("repos",
      EventGen.events(spark, entryParams, 8).toDF(), "entry:0")
    ()
  }

  private def entryRootTable(spark: SparkSession,
      lake: String): graft.lake.LakeTable = {
    val engine = new Engine(spark, lake, numBuckets = 16)
    val spec = Catalog.fromTree(engine.loadRegistry("repos").get)
      .find(_.isRoot).get
    engine.table(spec)
  }

  // One applied entry-tail lake per session, for queries that exercise
  // READ paths over the final state (point lookups): the flagship keeps
  // rebuilding per call — it measures the engine — but a lookup query
  // should measure the lookup, not an engine replay in front of it.
  private val entryLakes = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private def ensureEntryLake(s: SparkSession): String =
    entryLakes.computeIfAbsent(s, _ => {
      val lake = java.nio.file.Files
        .createTempDirectory("graft-entry-lake-shared-").toString
      buildEntryLake(s, lake)
      lake
    })

  /** Changefeed horizon: the tail's midpoint lsn. `cdc_changefeed` feeds
    * every net change with lsn ≥ CfCut; the two-phase lake below replays
    * the same split as two separate batches so `cdc_changefeed_diff` can
    * diff the two resulting snapshot VERSIONS. */
  val CfCut = 1000L

  // Two-phase replay of the SAME tail (lsn < CfCut, then the rest) — the
  // version pair brackets phase 2, pinned against vacuum per the
  // documented feed protocol; the two consistent CUTS bracket the same
  // phase for the multi-table feed (`cdc_changefeed_multi`); `t1` is
  // v1's commit wall clock — the `cdc_time_travel` as-of point (phase-2
  // commit times are strictly greater by publish monotonization, so
  // readAsOf(t1) resolves to exactly v1). Built once per session.
  private val cfLakes = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      (String, Int, Int, Map[String, Int], Map[String, Int], Long)]())
  private def ensureTwoPhaseLake(s: SparkSession)
      : (String, Int, Int, Map[String, Int], Map[String, Int], Long) =
    cfLakes.computeIfAbsent(s, _ => {
      val lake = java.nio.file.Files
        .createTempDirectory("graft-entry-lake-cf-").toString
      val engine = new Engine(s, lake, numBuckets = 16)
      val ev = EventGen.events(s, entryParams, 8).toDF()
      engine.applyEvents("repos", ev.filter(col("lsn") < CfCut), "cf:0")
      val cutA = engine.consistentCut("repos", "entry-a")
      val t = entryRootTable(s, lake)
      val v1 = t.currentVersion()
      t.pinSnapshot(v1)
      val t1 = t.snapshotAt(v1).timeMs
      engine.applyEvents("repos", ev.filter(col("lsn") >= CfCut), "cf:1")
      val cutB = engine.consistentCut("repos", "entry-b")
      (lake, v1, t.currentVersion(), cutA, cutB, t1)
    })

  /** The point-lookup key set: two hot-repo keys that certainly exist,
    * one mid-tail key, and one GUARANTEED-ABSENT key — `repo-9999` is
    * outside EventGen's repo id space at every SF, so the harness
    * exercises the absent-key path end-to-end (oracle returns 3 rows,
    * the bucket-pruned lookup must too; VERDICT r5 #7). Ids follow
    * EventGen's deterministic `repo|src/fP.lang|cK` shape. */
  val PointLookupIds: Seq[String] = Seq(
    "repo-0000|src/f0.scala|c0",
    "repo-0000|src/f3.rs|c0",
    "repo-0001|src/f2.rs|c2",
    "repo-9999|src/f7.py|c1")

  // oracle-SQL twin of TextOps.tokenCount (whitespace token count)
  private def tokenCountSql(textCol: String): String =
    s"CAST(length($textCol) - length(replace($textCol, ' ', '')) + 1 AS INTEGER)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- CDC / ingest semantics over the events table ----
    "cdc_latest_per_key" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value"))
    }),
    "cdc_replay_state" -> ((s, dir) => {
      // upsert stream keyed by user_id; latest 'error' acts as a delete
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("event_type") =!= "error")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("value").as("last_value"))
    }),
    "cdc_asof_join" -> ((s, dir) => {
      // AS-OF temporal join (ops.AsOf): each purchase picks the user's
      // newest click at-or-before it — union-and-sweep, ONE key shuffle,
      // no range-join explosion (a hot user costs a bigger sort, never a
      // cross product). DuckDB verifies with its NATIVE ASOF JOIN — a
      // structurally different algorithm over the same contract.
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          round(col("value"), 2).as("purchase_value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          round(col("value"), 2).as("click_value"))
      graft.ops.AsOf.join(purchases, clicks, Seq("user_id"), "event_id")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("purchase_value"), col("event_id_asof").as("click_id"),
          col("click_value"))
    }),
    "cdc_incr_skip" -> ((s, dir) => {
      // revision-skip shape: later events whose (user_id, value) pair
      // already occurred earlier are skipped (anti-join). The midpoint is
      // a broadcast-joined 1-row agg frame — fully declarative, no
      // driver-side head() action inside query construction
      val ev = t(s, dir, "events")
      val mid = ev.agg(floor(max("event_id") / 2).cast("long").as("_mid"))
      val withMid = ev.crossJoin(broadcast(mid))
      val early = withMid.filter(col("event_id") <= col("_mid"))
        .select("user_id", "value")
      withMid.filter(col("event_id") > col("_mid"))
        .join(early, Seq("user_id", "value"), "left_anti")
        .groupBy("user_id")
        .agg(count(lit(1)).as("applied_events"))
    }),
    "cdc_flatten_props" -> ((s, dir) => {
      // JSON payload flattening: extract props.k, aggregate per event type
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
    }),
    "cdc_salted_agg" -> ((s, dir) => {
      // hot-key salting pattern (north rule): two-phase aggregation —
      // partial agg on (key, salt) spreads a hot key over S partitions,
      // final agg on key alone; result identical to a direct groupBy
      val salted = t(s, dir, "events")
        .withColumn("_salt", pmod(xxhash64(col("event_id")), lit(8)))
      salted
        .groupBy("user_id", "_salt")
        .agg(count(lit(1)).as("c"), sum("value").as("v"))
        .groupBy("user_id")
        .agg(sum("c").as("n_events"), round(sum("v"), 2).as("sum_value"))
    }),
    "cdc_dedup_window" -> ((s, dir) => {
      // per-key dedup keeping first occurrence of each (user_id,event_type)
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy("user_id").agg(count(lit(1)).as("distinct_types"))
    }),

    // ---- relational core (Spark-supplied operators, bench headliners) ----
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))),
    // customer grows with SF (~150k rows/SF) — no broadcast hint: at small
    // SF AQE broadcasts it anyway (PlanSpec asserts), at 100× it must be
    // free to shuffle-join. nation/region are constant-size: hint is safe.
    "q2_join_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))),
    "q3_multi_join" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("n_lines"))),
    "q4_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    }),
    "q5_sort_limit" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber"))
        .limit(100)),
    "q6_filter_pushdown" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01") &&
          col("l_shipdate") < lit("1996-01-01") &&
          col("l_discount") > 0.05)
        .groupBy("l_returnflag")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("n"))),

    "q7_setops" -> ((s, dir) => {
      // set ops (SURVEY §2.5): purchasers who never hit an error
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "purchase").select("user_id").distinct()
        .except(ev.filter(col("event_type") === "error")
          .select("user_id").distinct())
    }),
    "q8_semi_join" -> ((s, dir) =>
      // EXISTS / left-semi (SURVEY §2.5)
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 200000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")),

    // ---- training-data ops: dedup family ----
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .select("content_md5", "keeper_id", "copies")),
    "dedup_minhash_lsh" -> ((s, dir) => {
      // est-filtered LSH candidates + EXACT char-5-gram verify at 0.9 —
      // the verify stage (VERDICT r3 #6) makes this DuckDB-all-pairs
      // comparable: a j ≥ 0.9 pair misses the b=16/r=4 banding w.p.
      // (1-0.9⁴)¹⁶ ≈ 3.9e-8 and the est ≥ 0.5 prefilter w.p. ≈ 0
      // (Bin(64, 0.9) below 32), so candidates∩{j≥0.9} ≡ all-pairs∩{j≥0.9}
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        shingleK = 5, numHashes = 64, bands = 16, threshold = 0.5)
      Dedup.verifyJaccard(pairs.select("id1", "id2"), docs, "doc_id", "text",
        shingleK = 5, threshold = 0.9)
    }),
    "dedup_ngram_jaccard" -> ((s, dir) => {
      // WORD 3-gram Jaccard (the C4/Gopher text-dedup shape — char
      // shingles make same-language docs ~20% similar and LSH banding
      // non-selective). Recall-safe candidates (r=2, b=48: a J≥0.5 pair
      // missed w.p. ≤ 1.1e-6) + exact shingle-Jaccard verify — which is
      // why this one HAS a DuckDB all-pairs oracle despite being LSH
      val docs = t(s, dir, "documents")
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
        numHashes = 96, rowsPerBand = 2, wordGrams = Some(3))
      Dedup.verifyJaccard(cand, docs, "doc_id", "text",
        threshold = 0.5, wordGrams = Some(3))
    }),
    "dedup_components" -> ((s, dir) => {
      // the clustering step over the verified word-3-gram pair graph
      // (same edges as dedup_ngram_jaccard): near-dup similarity is not
      // transitive, so keep-one-per-cluster needs the transitive closure —
      // large-star/small-star connected components, oracled by a DuckDB
      // recursive label propagation over the identical all-pairs edge set
      val docs = t(s, dir, "documents")
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
        numHashes = 96, rowsPerBand = 2, wordGrams = Some(3))
      val pairs = Dedup.verifyJaccard(cand, docs, "doc_id", "text",
        threshold = 0.5, wordGrams = Some(3))
      Dedup.connectedComponents(pairs.select("id1", "id2"))
    }),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 8)),
    "dedup_simhash_planted" -> ((s, dir) => {
      // recall check with an EXACT oracle: an exact copy shares every
      // simhash band (identical text ⇒ identical simhash), so each
      // planted (i, i+1e6) pair is guaranteed through the banded join if
      // and only if the banding/join plumbing is sound; the id filter
      // keeps the oracle-predictable planted cohort. Complements
      // `dedup_simhash` (full output — hash-kernel-shaped, no oracle).
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val subset = docs.filter(col("doc_id") < 200)
      val copies = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.simhashPairs(subset.unionByName(copies), "doc_id", "text",
        maxHamming = 8)
        .filter(col("id2") === col("id1") + 1000000L && col("hamming") === 0)
    }),
    "dedup_minhash_planted" -> ((s, dir) => {
      // same planted-recall pattern through the MinHash+LSH path:
      // identical text ⇒ identical signature ⇒ est_jaccard exactly 1.0
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val subset = docs.filter(col("doc_id") < 200)
      val copies = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.minhashPairs(subset.unionByName(copies), "doc_id", "text",
        shingleK = 5, numHashes = 64, bands = 16, threshold = 0.5)
        .filter(col("id2") === col("id1") + 1000000L &&
          col("est_jaccard") === 1.0)
    }),
    // banded signature: bucket space scales 2^(bits/bands) PER BAND and
    // bits grows with log2(n) at scale (fixed-space join went quadratic)
    "dedup_embedding" -> ((s, dir) => {
      // near-dup detection needs near-dups: the synthetic embeddings are
      // near-orthogonal (max natural cosine ≈ 0.51 at sf0.01), so the
      // query PLANTS deterministic near-duplicates — 25 whole-vector ×2
      // copies (same direction: cosine exactly 1.0, signature-identical
      // ⇒ recall guaranteed) and 25 first-element-doubled copies (cosine
      // 0.958–0.9999 ⇒ exercises banding tolerance) — and the DuckDB
      // oracle independently finds the SAME pairs by all-pairs exact
      // cosine over the same union. ×2 is exact in fp32, so the Spark
      // float path and DuckDB's double path see bit-identical vectors.
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val scaled = base.filter(col("vec_id") < 25)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val jittered = base.filter(col("vec_id") >= 25 && col("vec_id") < 50)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          concat(array(element_at(col("embedding"), 1) * lit(2.0f)),
            slice(col("embedding"), lit(2), size(col("embedding")) - 1))
            .as("embedding"))
      Dedup.embeddingPairs(
        base.unionByName(scaled).unionByName(jittered),
        "vec_id", "embedding", bits = 48, bands = 8, minCosine = 0.9)
    }),

    // ---- similarity search ----
    "ann_bruteforce" -> ((s, dir) => {
      // query vector = a broadcast-joined 1-row frame (no driver action);
      // cosine arithmetic is double-first so the DuckDB oracle matches
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("_qv"))
      emb.crossJoin(broadcast(q))
        .select(col("vec_id").as("id"),
          round(Similarity.cosineCols(col("embedding"), col("_qv")), 6)
            .as("cosine"))
        .orderBy(col("cosine").desc, col("id"))
        .limit(20)
    }),
    "ann_lsh" -> ((s, dir) => {
      // the PRUNED path: one-time write-side layout partitioned by LSH
      // cell ([[ensureAnnIndex]] — content-fingerprint-keyed, atomically
      // published), then the probe filter lists only probe directories
      // (PartitionFilters — IO pruning, not just compute pruning).
      // The single-row query-vector lookup is inherent to ANN: the probe
      // set must exist before planning to prune partitions. Probe radius
      // 2 = 37/256 cells (~7× IO pruning) — the recall/IO knob.
      val q = queryVector(s, dir)
      Similarity.topKIndexed(s, ensureAnnIndex(s, dir), q, k = 20,
        bits = AnnBits, probeRadius = 2)
    }),
    "ann_recall" -> ((s, dir) => {
      // driver-checkable recall (VERDICT r2 §3): the pruned path's top-k
      // joined against the brute-force top-k — the oracle recomputes the
      // same containment in DuckDB over the two dumped results, so the
      // recall arithmetic itself is independently verified
      val bf = queries("ann_bruteforce")(s, dir).select(col("id"))
      val lsh = queries("ann_lsh")(s, dir).select(col("id"))
      bf.join(lsh, Seq("id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(20L).as("k"), col("hits"),
          round(col("hits") / 20.0, 4).as("recall"))
    }),
    "ann_ivf" -> ((s, dir) => {
      // the DATA-ADAPTIVE pruned path: spherical-k-means inverted lists
      // ([[Similarity.ivfIndexVectors]], one-time content-keyed build),
      // probe = nprobe nearest cells (driver-side k×dim scoring), exact
      // rerank inside the probed partitions only
      val q = queryVector(s, dir)
      Similarity.topKIvf(s, ensureIvfIndex(s, dir), q, k = 20,
        nprobe = IvfNprobe)
    }),
    "ann_ivf_recall" -> ((s, dir) => {
      // same containment pattern as ann_recall, for the IVF path
      val bf = queries("ann_bruteforce")(s, dir).select(col("id"))
      val ivf = queries("ann_ivf")(s, dir).select(col("id"))
      bf.join(ivf, Seq("id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(20L).as("k"), col("hits"),
          round(col("hits") / 20.0, 4).as("recall"))
    }),
    "ann_ivf_clustered" -> ((s, dir) => {
      // ANN on a corpus with GENUINE near neighbors — the regime ANN
      // exists for. The natural synthetic embeddings are near-uniform on
      // the sphere (true top-20 cosines 0.24-0.37), where NO partition-
      // pruned index reaches 0.8 recall at 4× pruning (measured sweep,
      // ARCHITECTURE.md); this query plants 30 single-element-doubled
      // variants of the query vector (cosines 0.95-0.9999, ×2 exact in
      // fp32 ⇒ DuckDB-replicable) and probes the same IVF layout. The
      // DuckDB oracle is the INDEPENDENT all-pairs brute force over the
      // same union: the pruned probe (nprobe 8 / k=32 ≈ 4× IO pruning)
      // must return the exact brute-force top-20 (recall 1.0 measured).
      val q = queryVector(s, dir)
      Similarity.topKIvf(s, ensureClusteredIvfIndex(s, dir), q, k = 20,
        nprobe = IvfNprobe)
    }),
    "ann_clustered_recall" -> ((s, dir) => {
      // recall of the pruned clustered probe vs the in-Spark brute force
      // over the same union, WITH THE ≥0.8 FLOOR ASSERTED as a column;
      // the oracle recomputes hits/recall/floor against DuckDB's own
      // brute-force top-20 (fully independent re-derivation)
      val emb = clusteredEmb(s, dir)
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("_qv"))
      val bf = emb.crossJoin(broadcast(qv))
        .select(col("vec_id").as("id"),
          round(Similarity.cosineCols(col("embedding"), col("_qv")), 6)
            .as("cosine"))
        .orderBy(col("cosine").desc, col("id"))
        .limit(20).select("id")
      val ivf = queries("ann_ivf_clustered")(s, dir).select(col("id"))
      bf.join(ivf, Seq("id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(20L).as("k"), col("hits"),
          round(col("hits") / 20.0, 4).as("recall"),
          (col("hits") >= 16L).as("floor_ok"))
    }),
    "emb_norms" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          round(sqrt(aggregate(transform(col("embedding"),
            x => x.cast("double") * x.cast("double")),
            lit(0.0), (acc, x) => acc + x)), 3).as("l2_norm"))),

    // ---- text analysis ----
    "text_quality" -> ((s, dir) =>
      TextOps.qualityFeatures(t(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "avg_token_len", "punct_ratio",
          "quality_score")),
    "text_tokens_by_lang" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("tc", TextOps.tokenCount(col("text")))
        .groupBy("lang")
        .agg(sum("tc").as("total_tokens"), count(lit(1)).as("n_docs"),
          round(avg("n_chars"), 2).as("avg_chars"))),
    "text_lang_id" -> ((s, dir) =>
      // native single-pass codegen kernel (no ScalaUDF — PlanSpec
      // asserts); TextOps.langIdCol is the pure-column proof of the same
      // semantics (it IS the DuckDB oracle ported back) and OpsSpec
      // property-tests kernel ≡ column ≡ function
      t(s, dir, "documents")
        .select(col("doc_id"), graft.functions.expressions
          .langId(col("text")).as("pred_lang"))),
    "text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), graft.functions.expressions
          .fingerprint64(col("text")).as("fingerprint"))),
    "text_fingerprint_planted" -> ((s, dir) => {
      // oracled companion for the hash-kernel query: identical text ⇒
      // identical winnowed fingerprint, so a fingerprint-equality
      // self-join MUST surface every planted (i, i+1e6) copy — the oracle
      // enumerates exactly those pairs (same pattern as
      // dedup_simhash_planted). Verifies the kernel's determinism and
      // the join plumbing end to end.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val subset = docs.filter(col("doc_id") < 200)
      val copies = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val fp = subset.unionByName(copies)
        .select(col("doc_id"), graft.functions.expressions
          .fingerprint64(col("text")).as("f"))
      fp.select(col("doc_id").as("id1"), col("f"))
        .join(fp.select(col("doc_id").as("id2"), col("f")), Seq("f"))
        .filter(col("id2") === col("id1") + 1000000L)
        .select("id1", "id2")
    }),
    "sample_stratified" -> ((s, dir) => {
      // deterministic hash-threshold stratified sampling (the corpus-
      // recipe primitive): keep a row iff the top-24 splitmix64 bits of
      // its key fall under the stratum's threshold — a pure map-side
      // filter (no shuffle, no RNG state) with nested samples across
      // rates. zh is deliberately NOT in the map so the default-rate
      // path is exercised end to end. Oracle replicates the full mix in
      // HUGEINT mod-2^64 arithmetic and re-derives the bucket, so the
      // hash value itself is verified, not just the keep/drop decision.
      val docs = t(s, dir, "documents")
      graft.ops.Sampling.stratifiedSample(docs, "doc_id", "lang",
          Map("en" -> 0.05, "de" -> 0.20, "fr" -> 0.50, "es" -> 0.80),
          defaultRate = 0.10)
        .select(col("doc_id"), col("lang"),
          graft.ops.Sampling.sampleBucket(col("doc_id")).as("sample_bucket"))
    }),
    "sample_take" -> ((s, dir) => {
      // EXACT-COUNT stratified take ("exactly N docs per language"):
      // the k smallest buckets per stratum, ties by key — exact where
      // rates are only exact in expectation; one window shuffle. The
      // oracle replays the identical deterministic ranking over the
      // re-derived bucket values.
      val docs = t(s, dir, "documents")
      graft.ops.Sampling.stratifiedTake(docs, "doc_id", "lang",
          Map("en" -> 40L, "de" -> 25L), defaultTarget = 10L)
        .select(col("doc_id"), col("lang"),
          graft.ops.Sampling.sampleBucket(col("doc_id")).as("sample_bucket"))
    }),
    "sample_split" -> ((s, dir) => {
      // disjoint deterministic train/val/test assignment: pure map-side
      // CASE over the native bucket kernel — a doc never migrates
      // between splits as the corpus grows (leakage guarantee)
      val docs = t(s, dir, "documents")
      graft.ops.Sampling.split(docs, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("lang"), col("split"))
    }),

    // ---- multimodal (REAL codecs: PPM/BMP/PNG/JPEG/WAV/frame stream) ----
    "mm_decode" -> ((s, dir) => {
      import s.implicits._
      // checksum is position-weighted over the decoded LOGICAL byte
      // stream: the oracle's closed form only matches if the parsers
      // undid each container's physical layout exactly. The lossy JPEG
      // leg reports -1 iff the decode sits within the quantization bound
      // of its canonical gradient (corpusChecksum) — dims/channels stay
      // exact via the header-derived columns.
      Multimodal.decodeForHarness(Multimodal.syntheticAssets(s, 500))
        .select($"asset_id", $"kind", $"width", $"height", $"channels",
          $"duration_ms", $"checksum")
    }),
    "mm_frames" -> ((s, dir) => {
      import s.implicits._
      Multimodal.frameSample(Multimodal.syntheticAssets(s, 200), everyNth = 2)
        .groupBy("asset_id").agg(count(lit(1)).as("n_frames"))
    }),

    // ---- streaming ops (same plan runs streaming or batch — this entry
    // drives the batch side; StreamOpsSpec drives real micro-batches) ----
    "stream_event_rate" -> ((s, dir) => {
      val events = EventGen.events(s, entryParams, 8).toDF()
      graft.streaming.StreamOps.eventRate(events, window = "1 minute")
        .select(col("window.start").as("window_start"), col("repo"),
          col("n_events"), col("n_deletes"))
    }),
    "stream_dedup_keys" -> ((s, dir) => {
      // streaming exact dedup (native dropDuplicatesWithinWatermark;
      // batch side here). The kept ROW per hash is tie-arbitrary, so the
      // driver-verified surface is the deterministic distinct-hash SET —
      // the oracle recomputes it over the dumped tail
      val events = EventGen.events(s, entryParams, 8).toDF()
      graft.streaming.StreamOps.dedupeStream(events, "doc")
        .select(col("content_sha"))
    }),

    // ---- the engine itself ----
    "engine_replay" -> ((s, dir) => entry(s)),
    "cdc_point_lookup" -> ((s, dir) => {
      // predicate→bucket-pruned point lookup on the applied final state
      // (LakeTable.readWhere): equality OR IN on the root key reads only
      // the matching buckets' files — at 10^10 rows the difference
      // between a key lookup and a full table scan. The lake is built
      // once per session (the flagship measures the replay; this
      // measures the LOOKUP).
      val table = entryRootTable(s, ensureEntryLake(s))
      table.readWhere(col("ID") === PointLookupIds.head ||
          col("ID").isin(PointLookupIds.tail: _*))
        .select(col("ID"), col("REV"),
          sha2(col("CONTENT"), 256).as("content_sha"))
        .orderBy("ID")
    }),
    "cdc_changefeed" -> ((s, dir) => {
      // CDC OUTPUT, seq space (LakeTable.readChangesSince): the net
      // changes a downstream consumer applies to advance from lsn CfCut-1
      // to the current state — post-horizon winners as upserts, net
      // tombstones as deletes. The seq filter runs BEFORE merge-on-read
      // resolution (monotonicity makes that exact) and pushes into the
      // parquet scan, so cost tracks changed data, not the table.
      val table = entryRootTable(s, ensureEntryLake(s))
      table.readChangesSince(CfCut - 1)
        .select(col("ID"), col("REV"),
          sha2(col("CONTENT"), 256).as("content_sha"),
          col("_change_type").as("change_type"),
          col("_change_seq").as("change_lsn"))
    }),
    "cdc_changefeed_diff" -> ((s, dir) => {
      // CDC OUTPUT, version space (LakeTable.readChangesBetween): the
      // classified insert/update/delete diff of the two snapshot versions
      // bracketing phase 2 of the two-phase replay — post-images for
      // insert/update, pre-images for delete, bucket-pruned to segments
      // that changed, aligned across the mid-tail schema evolution.
      val (lake, v1, v2, _, _, _) = ensureTwoPhaseLake(s)
      entryRootTable(s, lake).readChangesBetween(v1, v2)
        .select(col("ID"), col("REV"),
          sha2(col("CONTENT"), 256).as("content_sha"),
          col("_change_type").as("change_type"))
    }),
    "cdc_changefeed_multi" -> ((s, dir) => {
      // CDC OUTPUT, multi-table consistent (Engine.consistentCut +
      // Engine.changesBetween): the per-table classified feeds between
      // two cuts that agree on one ingest batch across the whole
      // parent/child family — a consumer applying them never sees a
      // child row whose parent batch hasn't landed. The window crosses
      // the mid-tail evolution boundary, so REPOS diffs normally while
      // REPOS_STATS/REPOS_TOPICS (born inside the window) feed their
      // full to-state as inserts. Emitted as one union keyed by table
      // name; per-row value probes keep the oracle content-exact.
      val (lake, _, _, cutA, cutB, _) = ensureTwoPhaseLake(s)
      val engine = new Engine(s, lake, numBuckets = 16)
      val feeds = engine.changesBetween("repos", cutA, cutB)
      feeds("REPOS")
        .select(lit("REPOS").as("tbl"), col("ID").as("rid"),
          lit(null).cast("string").as("sid"),
          sha2(col("CONTENT"), 256).as("val"),
          col("_change_type").as("change_type"))
        .unionAll(feeds("REPOS_STATS")
          .select(lit("REPOS_STATS").as("tbl"), col("REPOS_ID").as("rid"),
            lit(null).cast("string").as("sid"),
            concat_ws(":", col("LINES"), col("BYTES")).as("val"),
            col("_change_type").as("change_type")))
        .unionAll(feeds("REPOS_TOPICS")
          .select(lit("REPOS_TOPICS").as("tbl"), col("REPOS_ID").as("rid"),
            col("ID").as("sid"), col("SCORE").as("val"),
            col("_change_type").as("change_type")))
    }),
    "cdc_changefeed_cdf" -> ((s, dir) => {
      // CDC OUTPUT, Delta-CDF form (LakeTable.readChangesBetweenCdf):
      // the same version-space diff as `cdc_changefeed_diff`, but updates
      // emit BOTH images — `update_preimage` (the retired row) and
      // `update_postimage` (the new row) — the shape a delta consumer
      // needs to retire old group contributions. Insert/delete as before.
      val (lake, v1, v2, _, _, _) = ensureTwoPhaseLake(s)
      entryRootTable(s, lake).readChangesBetweenCdf(v1, v2)
        .select(col("ID"), col("REV"),
          sha2(col("CONTENT"), 256).as("content_sha"),
          col("_change_type").as("change_type"))
    }),
    "cdc_incr_agg" -> ((s, dir) => {
      // INCREMENTALLY MAINTAINED AGGREGATE — the classic CDC consumer:
      // a per-LANG (docs, content bytes) rollup maintained from the CDF
      // feed instead of recomputed. Base contributions come from the
      // phase-1 snapshot (+1); the feed retires pre-images (−1) and
      // admits post-images (+1); one hash aggregate folds both. The
      // oracle recomputes the rollup FROM SCRATCH over the final winner
      // state — equality proves base + delta ≡ full recompute, i.e. the
      // CDF is exactly right including pre-images. At 10^10 rows this is
      // the only viable shape: the delta costs O(changed buckets), the
      // recompute O(table).
      val (lake, v1, v2, _, _, _) = ensureTwoPhaseLake(s)
      val t = entryRootTable(s, lake)
      val base = t.readAt(t.snapshotAt(v1))
        .select(col("LANG"), lit(1L).as("sgn"),
          length(col("CONTENT")).cast("long").as("len"))
      val delta = t.readChangesBetweenCdf(v1, v2)
        .select(col("LANG"),
          when(col("_change_type").isin("insert", "update_postimage"),
            lit(1L)).otherwise(lit(-1L)).as("sgn"),
          length(col("CONTENT")).cast("long").as("len"))
      base.unionAll(delta).groupBy(col("LANG"))
        .agg(sum(col("sgn")).as("n_docs"),
          sum(col("sgn") * col("len")).as("content_len"))
        .filter(col("n_docs") > 0)
    }),
    "cdc_mv_rollup" -> ((s, dir) => {
      // MATERIALIZED VIEW (streaming.Materialize): the same per-LANG
      // rollup as `cdc_incr_agg`, but maintained AS A LAKE TABLE by the
      // read-modify-write fold the streaming MV runs per micro-batch —
      // a backfill fold (create → v1) then the delta fold (v1 → v2),
      // each an exactly-once tagged merge into a fresh target table.
      // The output is the target's final state, so the recompute oracle
      // proves the fold END TO END through the lake merge path: signed
      // retirement, group migration, extinction deletes, tag dedup.
      val (lake, v1, v2, _, _, _) = ensureTwoPhaseLake(s)
      val src = entryRootTable(s, lake)
      val mvRoot = java.nio.file.Files
        .createTempDirectory("graft-mv-").toString
      val mv = new graft.lake.LakeTable(s, mvRoot, "MV", numBuckets = 4)
      mv.create(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("LANG",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("n_docs",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content_len",
          org.apache.spark.sql.types.LongType))), Seq("LANG"), "LANG")
      def fold(tag: String, a: Int, b: Int): Unit =
        graft.streaming.Materialize.applyDelta(
          src.readChangesBetweenCdf(a, b), mv, "LANG",
          Map("content_len" -> length(col("CONTENT"))), "n_docs", tag)
      fold("mv:base", 1, v1)   // backfill: phase-1 state as inserts
      fold("mv:delta", v1, v2) // the CDF window bracketing phase 2
      mv.read()
    }),
    "cdc_time_travel" -> ((s, dir) => {
      // TIME TRAVEL (LakeTable.readAsOf — Delta `TIMESTAMP AS OF` /
      // Iceberg as-of-timestamp analogue): read the root table AS OF
      // the phase-1 commit wall clock. Publish-time monotonization makes
      // per-table snapshot times strictly increasing, so the as-of walk
      // lands on exactly the last phase-1 version — the oracle is the
      // pre-cut live winner state, independently rebuilt from the
      // dumped event tail.
      val (lake, _, _, _, _, t1) = ensureTwoPhaseLake(s)
      entryRootTable(s, lake).readAsOf(t1)
        .select(col("ID"), col("REV"),
          sha2(col("CONTENT"), 256).as("content_sha"))
    }),
  )

  /** Deterministic query vector: the embedding of vec_id 0. */
  private def queryVector(s: SparkSession, dir: String): Array[Float] =
    t(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray

  /** 8 signature bits = 256 partition cells: enough to show ~28× IO
    * pruning (9 probe cells) without a 1024-dir small-file write. */
  val AnnBits = 8

  /** 32 k-means cells, 8 probed (≈4× IO pruning): the best ~4×-prune
    * point of the measured recall/IO sweep (ARCHITECTURE.md r4 table —
    * data-adaptive cells dominate LSH at equal rows-read); k grows ~√n
    * at scale, nprobe stays the recall knob. */
  val IvfK = 32
  val IvfNprobe = 8

  /** The clustered-ANN evaluation corpus: base embeddings + 30 planted
    * near neighbors of the query vector (vec 0), each with ONE element
    * doubled (0-based positions 1..30). ×2 is exponent-only in fp32, so
    * DuckDB's double-arithmetic replica sees bit-identical vectors;
    * planted cosines 0.95-0.9999 vs a natural max ≈ 0.51, so the true
    * top-20 is the planted neighborhood — the regime ANN indexes serve. */
  private def clusteredEmb(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val idx = broadcast(s.range(1, 31)
      .select(col("id").cast("int").as("_i")))
    val planted = base.filter(col("vec_id") === 0)
      .crossJoin(idx)
      .select((col("_i").cast("long") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, j) => when(j === col("_i"), x * lit(2.0f)).otherwise(x))
          .as("embedding"))
    base.unionByName(planted)
  }

  /** Content-keyed ANN index path: the fingerprint covers file names,
    * sizes and mtimes of the embeddings table, so regenerated data at the
    * same path gets a NEW index (no stale-index hazard — a dir.hashCode
    * key reused a stale layout silently, ADVICE r2). */
  private def indexDirFor(dir: String, tag: String): String = {
    val src = new java.io.File(dir, "embeddings.parquet")
    val files =
      if (src.isDirectory) src.listFiles().sortBy(_.getName).toSeq
      else Seq(src)
    val md = java.security.MessageDigest.getInstance("MD5")
    files.foreach(f =>
      md.update(s"${f.getName}:${f.length}:${f.lastModified};".getBytes("UTF-8")))
    val fp = md.digest().map("%02x".format(_)).mkString.take(16)
    s"/tmp/graft-$tag-idx-$fp"
  }

  /** One-time index build with a crash/race-safe publish: each builder
    * writes its own tmp dir and publishes with an atomic rename — a
    * half-written index is never visible, the first publisher wins. */
  private def ensureIndex(idx: String)(build: String => Unit): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val p = Paths.get(idx)
    if (!Files.isDirectory(p)) {
      val tmp = Paths.get(idx + ".tmp-" +
        java.util.UUID.randomUUID().toString.take(8))
      build(tmp.toString)
      try Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException =>
        // lost the publish race (or cross-device): drop our copy if a
        // winner exists, else rethrow by retrying the move non-atomically
        if (Files.isDirectory(p)) deleteTree(tmp)
        else Files.move(tmp, p)
      }
    }
    idx
  }

  /** Build the write-side hyperplane-LSH layout once; probe queries then
    * read only probe cells. */
  def ensureAnnIndex(s: SparkSession, dir: String): String =
    ensureIndex(indexDirFor(dir, s"ann$AnnBits")) { tmp =>
      Similarity.indexVectors(t(s, dir, "embeddings"), "vec_id", "embedding",
        tmp, bits = AnnBits)
    }

  /** Build the IVF inverted-list layout once (k-means train + assign).
    * Tag v2: the hot-cell-guard layout (cell manifest sidecar) — a cached
    * pre-guard index must not be reused. */
  def ensureIvfIndex(s: SparkSession, dir: String): String =
    ensureIndex(indexDirFor(dir, s"ivfv2-$IvfK")) { tmp =>
      Similarity.ivfIndexVectors(t(s, dir, "embeddings"), "vec_id",
        "embedding", tmp, k = IvfK)
    }

  /** IVF layout over the clustered-evaluation union (same k/nprobe). */
  def ensureClusteredIvfIndex(s: SparkSession, dir: String): String =
    ensureIndex(indexDirFor(dir, s"ivfcv2-$IvfK")) { tmp =>
      Similarity.ivfIndexVectors(clusteredEmb(s, dir), "vec_id",
        "embedding", tmp, k = IvfK)
    }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().forEachRemaining(x =>
          java.nio.file.Files.deleteIfExists(x))
      finally s.close()
    }

  /** One-time preparation (index + shared-lake builds): Bench calls this
    * OUTSIDE the timed region so `ann_lsh` measures the probe (not the
    * build) and `cdc_point_lookup` measures the lookup (not the replay
    * that populates the lake — `engine_replay` is the timed replay). */
  def prepare(s: SparkSession, dir: String): Unit = {
    ensureAnnIndex(s, dir)
    ensureIvfIndex(s, dir)
    ensureClusteredIvfIndex(s, dir)
    ensureEntryLake(s)
    ensureTwoPhaseLake(s)
    ()
  }

  /** Oracle substitutions for the two PRUNED ANN probes (VERDICT r5 #4):
    * the index dirs plus the exact partition sets each probe reads, so
    * the DuckDB oracle can `read_parquet` THE SAME probe cells and
    * re-derive exact top-k independently of Spark's scan. The probe
    * lists re-run the same driver-side derivations the queries use
    * (hyperplane signature + Hamming ball; centroid scoring + split-cell
    * collapse) — what's verified is everything downstream: the pruned
    * scan, the cosine rerank, and the ordering. */
  def annOracleSubs(s: SparkSession, dir: String): Map[String, String] = {
    val q = queryVector(s, dir)
    val ivfIdx = ensureIvfIndex(s, dir)
    val sigs = Similarity.probeSet(
      Similarity.hyperplaneSig(q, AnnBits, 42L), AnnBits, radius = 2)
    val cells = Similarity.ivfProbeCells(ivfIdx, q, IvfNprobe)
    Map(
      "__ANNIDX__" -> ensureAnnIndex(s, dir),
      "__IVFIDX__" -> ivfIdx,
      "__ANNPROBES__" -> sigs.mkString(", "),
      "__IVFPROBES__" -> cells.mkString(", "))
  }

  /** HUGEINT mod-2^64 DuckDB replica of the splitmix64 sample-bucket
    * kernel over `documents`, shared by the sampling oracles: golden-
    * gamma multiply + two xor-shift/multiply finalizer rounds (64×64
    * products split 32/32 so INT128 never overflows), unsigned top-24
    * extraction. Ends with CTE `buckets(doc_id, lang, sample_bucket)`;
    * append `, more_ctes…` or a SELECT. */
  /** From-scratch per-LANG rollup over the tail's final winner state —
    * shared by `cdc_incr_agg` and `cdc_mv_rollup`: both consumers must
    * reproduce exactly this recompute (base + delta ≡ recompute). */
  private val RollupRecomputeSql: String =
    s"""WITH d AS (SELECT DISTINCT lsn, op, doc
       |           FROM read_parquet('__OUTDIR__/engine_events/*.parquet'))
       |SELECT json_extract_string(doc, '$$.lang') AS LANG,
       |       count(*) AS n_docs,
       |       CAST(sum(length(json_extract_string(doc, '$$.content')))
       |            AS BIGINT) AS content_len
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY json_extract_string(doc, '$$.id')
       |        ORDER BY lsn DESC) AS rn FROM d)
       |WHERE rn = 1 AND op <> 'delete'
       |GROUP BY 1""".stripMargin

  private val SampleBucketsCte: String =
    """WITH z0s AS (
      |  SELECT doc_id, lang,
      |    (doc_id::HUGEINT * 11400714819323198485::HUGEINT)
      |      % 18446744073709551616::HUGEINT AS z0
      |  FROM documents),
      |y1s AS (SELECT doc_id, lang,
      |  xor(z0::UBIGINT, (z0 // 1073741824)::UBIGINT)::HUGEINT AS y1 FROM z0s),
      |z1s AS (SELECT doc_id, lang,
      |  ((y1 % 4294967296) * 13787848793156543929::HUGEINT
      |   + (((y1 // 4294967296) * 13787848793156543929::HUGEINT) % 4294967296)
      |     * 4294967296) % 18446744073709551616::HUGEINT AS z1 FROM y1s),
      |y2s AS (SELECT doc_id, lang,
      |  xor(z1::UBIGINT, (z1 // 134217728)::UBIGINT)::HUGEINT AS y2 FROM z1s),
      |z2s AS (SELECT doc_id, lang,
      |  ((y2 % 4294967296) * 10723151780598845931::HUGEINT
      |   + (((y2 // 4294967296) * 10723151780598845931::HUGEINT) % 4294967296)
      |     * 4294967296) % 18446744073709551616::HUGEINT AS z2 FROM y2s),
      |buckets AS (SELECT doc_id, lang,
      |  CAST(xor(z2::UBIGINT, (z2 // 2147483648)::UBIGINT) // 1099511627776
      |    AS BIGINT) AS sample_bucket FROM z2s)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "cdc_latest_per_key" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type,
        |       value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY event_id DESC) AS rn FROM events)
        |WHERE rn = 1""".stripMargin,
    "cdc_replay_state" ->
      """SELECT user_id, event_id AS last_event_id, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY event_id DESC) AS rn FROM events)
        |WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    "cdc_asof_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id,
        |       round(p.value, 2) AS purchase_value,
        |       c.event_id AS click_id, round(c.value, 2) AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.event_id >= c.event_id""".stripMargin,
    "cdc_incr_skip" ->
      """WITH mid AS (SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS m FROM events),
        |early AS (SELECT DISTINCT user_id, value FROM events, mid
        |          WHERE event_id <= mid.m)
        |SELECT e.user_id, CAST(count(*) AS BIGINT) AS applied_events
        |FROM events e, mid
        |WHERE e.event_id > mid.m
        |  AND NOT EXISTS (SELECT 1 FROM early x
        |                  WHERE x.user_id = e.user_id AND x.value = e.value)
        |GROUP BY e.user_id""".stripMargin,
    "cdc_flatten_props" ->
      """SELECT event_type,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "cdc_salted_agg" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY user_id""".stripMargin,
    "cdc_dedup_window" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS distinct_types
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |        ORDER BY event_id) AS rn FROM events)
        |WHERE rn = 1 GROUP BY user_id""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join_agg" ->
      """SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q3_multi_join" ->
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q4_window_topk" ->
      """SELECT o_custkey, o_orderkey, rn
        |FROM (SELECT o_custkey, o_orderkey, row_number() OVER (
        |        PARTITION BY o_custkey
        |        ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
        |WHERE rn <= 3""".stripMargin,
    "q5_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 100""".stripMargin,
    "q6_filter_pushdown" ->
      """SELECT l_returnflag,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-01-01' AND l_discount > 0.05
        |GROUP BY l_returnflag""".stripMargin,
    "q7_setops" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |EXCEPT
        |SELECT DISTINCT user_id FROM events WHERE event_type = 'error'""".stripMargin,
    "q8_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 200000)""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS keeper_id,
        |  CAST(count(*) AS BIGINT) AS copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "text_tokens_by_lang" ->
      s"""SELECT lang,
         |  CAST(sum(${tokenCountSql("text")}) AS BIGINT) AS total_tokens,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  round(avg(n_chars), 2) AS avg_chars
         |FROM documents GROUP BY lang""".stripMargin,
    "emb_norms" ->
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 3) AS l2_norm
        |FROM embeddings""".stripMargin,

    // ---- round-2 oracles ----

    // Self-oracle for the dumped oracle-input artifact itself (VERDICT r6
    // #6 — the one remaining `no_oracle` row): DuckDB re-reads the tail
    // and keeps only rows satisfying the generator's invariants — lsn in
    // [0, nEvents), event time ≡ 1700000000000 + lsn·1000 ms
    // (EventGen.eventAt derives ts from the lsn), and every duplicate
    // delivery byte-exact (same lsn ⇒ same op+doc; dupPct re-emits the
    // prior payload verbatim). A violated invariant drops rows → the
    // row/hash compare fails. Everything else about the tail is covered
    // by the engine_replay / cdc_* oracles that replay this same dump.
    "engine_events" ->
      s"""WITH t AS (
         |  SELECT lsn, op, ts, doc
         |  FROM read_parquet('__OUTDIR__/engine_events/*.parquet')),
         |ok AS (
         |  SELECT lsn FROM t GROUP BY lsn
         |  HAVING count(DISTINCT op || '|' || doc) = 1)
         |SELECT t.lsn, t.op, t.ts, t.doc
         |FROM t JOIN ok USING (lsn)
         |WHERE t.lsn BETWEEN 0 AND ${entryParams.nEvents - 1}
         |  AND epoch_ms(t.ts) = 1700000000000 + t.lsn * 1000""".stripMargin,

    // The flagship: independent replay of the SAME deterministic event
    // tail (dumped by Verify to __OUTDIR__/engine_events) — winner per key
    // by max lsn, keys whose winner is a delete are absent, row identity
    // via content sha256. Mirrors the reference's final-state guarantee
    // (sqlDML.test.ts:562-921).
    "engine_replay" ->
      """WITH w AS (
        |  SELECT lsn, op, doc, row_number() OVER (
        |      PARTITION BY json_extract_string(doc, '$.id')
        |      ORDER BY lsn DESC) AS rn
        |  FROM (SELECT DISTINCT lsn, op, doc
        |        FROM read_parquet('__OUTDIR__/engine_events/*.parquet')))
        |SELECT json_extract_string(doc, '$.id') AS ID,
        |       json_extract_string(doc, '$.rev') AS REV,
        |       sha256(json_extract_string(doc, '$.content')) AS content_sha
        |FROM w WHERE rn = 1 AND op <> 'delete'""".stripMargin,

    // point lookup over the SAME replayed final state, restricted to the
    // fixed key set (one key is intentionally absent from the tail)
    "cdc_point_lookup" ->
      s"""WITH w AS (
         |  SELECT lsn, op, doc, row_number() OVER (
         |      PARTITION BY json_extract_string(doc, '$$.id')
         |      ORDER BY lsn DESC) AS rn
         |  FROM (SELECT DISTINCT lsn, op, doc
         |        FROM read_parquet('__OUTDIR__/engine_events/*.parquet')))
         |SELECT json_extract_string(doc, '$$.id') AS ID,
         |       json_extract_string(doc, '$$.rev') AS REV,
         |       sha256(json_extract_string(doc, '$$.content')) AS content_sha
         |FROM w WHERE rn = 1 AND op <> 'delete'
         |  AND json_extract_string(doc, '$$.id') IN
         |    (${PointLookupIds.map(id => s"'$id'").mkString(", ")})""".stripMargin,

    // CDC OUTPUT, seq space: winners of the replayed tail with winning
    // lsn past the horizon — an upsert-winner surfaces as its post-image,
    // a delete-winner as a bare tombstone (null payload). Exactly
    // readChangesSince's net semantics: a key whose winner predates the
    // horizon has NO post-horizon rows (lsn is monotone per key), so it
    // must not appear.
    "cdc_changefeed" ->
      s"""WITH w AS (
         |  SELECT lsn, op, doc, row_number() OVER (
         |      PARTITION BY json_extract_string(doc, '$$.id')
         |      ORDER BY lsn DESC) AS rn
         |  FROM (SELECT DISTINCT lsn, op, doc
         |        FROM read_parquet('__OUTDIR__/engine_events/*.parquet')))
         |SELECT json_extract_string(doc, '$$.id') AS ID,
         |       CASE WHEN op = 'delete' THEN NULL
         |            ELSE json_extract_string(doc, '$$.rev') END AS REV,
         |       CASE WHEN op = 'delete' THEN NULL
         |            ELSE sha256(json_extract_string(doc, '$$.content'))
         |       END AS content_sha,
         |       CASE WHEN op = 'delete' THEN 'delete'
         |            ELSE 'upsert' END AS change_type,
         |       lsn AS change_lsn
         |FROM w WHERE rn = 1 AND lsn >= $CfCut""".stripMargin,

    // CDC OUTPUT, version space: independent state construction at BOTH
    // endpoints (winners among lsn < cut vs winners overall), full outer
    // join, classify — insert (absent→present), update (rev moved; the
    // generator's rev embeds the event index, so any state change moves
    // it), delete (present→absent, pre-image). Keys untouched or
    // re-asserted identical emit nothing on either side.
    "cdc_changefeed_diff" ->
      s"""WITH d AS (SELECT DISTINCT lsn, op, doc
         |           FROM read_parquet('__OUTDIR__/engine_events/*.parquet')),
         |pre AS (
         |  SELECT json_extract_string(doc, '$$.id') AS id,
         |         json_extract_string(doc, '$$.rev') AS rev,
         |         sha256(json_extract_string(doc, '$$.content')) AS sha
         |  FROM (SELECT *, row_number() OVER (
         |          PARTITION BY json_extract_string(doc, '$$.id')
         |          ORDER BY lsn DESC) AS rn FROM d WHERE lsn < $CfCut)
         |  WHERE rn = 1 AND op <> 'delete'),
         |post AS (
         |  SELECT json_extract_string(doc, '$$.id') AS id,
         |         json_extract_string(doc, '$$.rev') AS rev,
         |         sha256(json_extract_string(doc, '$$.content')) AS sha
         |  FROM (SELECT *, row_number() OVER (
         |          PARTITION BY json_extract_string(doc, '$$.id')
         |          ORDER BY lsn DESC) AS rn FROM d)
         |  WHERE rn = 1 AND op <> 'delete')
         |SELECT coalesce(post.id, pre.id) AS ID,
         |       coalesce(post.rev, pre.rev) AS REV,
         |       coalesce(post.sha, pre.sha) AS content_sha,
         |       CASE WHEN pre.id IS NULL THEN 'insert'
         |            WHEN post.id IS NULL THEN 'delete'
         |            ELSE 'update' END AS change_type
         |FROM post FULL JOIN pre ON post.id = pre.id
         |WHERE post.id IS NULL OR pre.id IS NULL
         |   OR post.rev <> pre.rev""".stripMargin,

    // multi-table consistent feed: the REPOS leg replays the same
    // two-endpoint classify as cdc_changefeed_diff; the child legs
    // re-derive the to-state of the tables born inside the window from
    // the FINAL live winners' JSON — stats iff the winning doc carries
    // them, topics deduped per (doc, topic id) with the LAST array
    // element winning (the engine's within-doc rule, Engine.frameOf:
    // reference sqlDML.ts:519-545 serial-MERGE order).
    "cdc_changefeed_multi" ->
      s"""WITH d AS (SELECT DISTINCT lsn, op, doc
         |           FROM read_parquet('__OUTDIR__/engine_events/*.parquet')),
         |pre AS (
         |  SELECT json_extract_string(doc, '$$.id') AS id,
         |         json_extract_string(doc, '$$.rev') AS rev,
         |         sha256(json_extract_string(doc, '$$.content')) AS sha
         |  FROM (SELECT *, row_number() OVER (
         |          PARTITION BY json_extract_string(doc, '$$.id')
         |          ORDER BY lsn DESC) AS rn FROM d WHERE lsn < $CfCut)
         |  WHERE rn = 1 AND op <> 'delete'),
         |post AS (
         |  SELECT json_extract_string(doc, '$$.id') AS id,
         |         json_extract_string(doc, '$$.rev') AS rev,
         |         sha256(json_extract_string(doc, '$$.content')) AS sha,
         |         doc
         |  FROM (SELECT *, row_number() OVER (
         |          PARTITION BY json_extract_string(doc, '$$.id')
         |          ORDER BY lsn DESC) AS rn FROM d)
         |  WHERE rn = 1 AND op <> 'delete'),
         |root AS (
         |  SELECT 'REPOS' AS tbl, coalesce(post.id, pre.id) AS rid,
         |         CAST(NULL AS VARCHAR) AS sid,
         |         coalesce(post.sha, pre.sha) AS val,
         |         CASE WHEN pre.id IS NULL THEN 'insert'
         |              WHEN post.id IS NULL THEN 'delete'
         |              ELSE 'update' END AS change_type
         |  FROM post FULL JOIN pre ON post.id = pre.id
         |  WHERE post.id IS NULL OR pre.id IS NULL
         |     OR post.rev <> pre.rev),
         |stats AS (
         |  SELECT 'REPOS_STATS' AS tbl, id AS rid,
         |         CAST(NULL AS VARCHAR) AS sid,
         |         json_extract_string(doc, '$$.stats.lines') || ':' ||
         |           json_extract_string(doc, '$$.stats.bytes') AS val,
         |         'insert' AS change_type
         |  FROM post WHERE json_extract(doc, '$$.stats') IS NOT NULL),
         |topel AS (
         |  SELECT id AS rid,
         |         unnest(json_extract(doc, '$$.topics[*]')) AS t,
         |         generate_subscripts(json_extract(doc, '$$.topics[*]'), 1)
         |           AS ord
         |  FROM post WHERE json_extract(doc, '$$.topics') IS NOT NULL),
         |topics AS (
         |  SELECT 'REPOS_TOPICS' AS tbl, rid,
         |         json_extract_string(t, '$$.id') AS sid,
         |         json_extract_string(t, '$$.score') AS val,
         |         'insert' AS change_type
         |  FROM (SELECT *, row_number() OVER (
         |          PARTITION BY rid, json_extract_string(t, '$$.id')
         |          ORDER BY ord DESC) AS rn FROM topel)
         |  WHERE rn = 1)
         |SELECT * FROM root
         |UNION ALL SELECT * FROM stats
         |UNION ALL SELECT * FROM topics""".stripMargin,

    // Delta-CDF form of the version-space diff: same two-endpoint
    // classify as cdc_changefeed_diff, but an update contributes BOTH
    // its pre-image row (tagged update_preimage) and its post-image row
    // (update_postimage)
    "cdc_changefeed_cdf" ->
      s"""WITH d AS (SELECT DISTINCT lsn, op, doc
         |           FROM read_parquet('__OUTDIR__/engine_events/*.parquet')),
         |pre AS (
         |  SELECT json_extract_string(doc, '$$.id') AS id,
         |         json_extract_string(doc, '$$.rev') AS rev,
         |         sha256(json_extract_string(doc, '$$.content')) AS sha
         |  FROM (SELECT *, row_number() OVER (
         |          PARTITION BY json_extract_string(doc, '$$.id')
         |          ORDER BY lsn DESC) AS rn FROM d WHERE lsn < $CfCut)
         |  WHERE rn = 1 AND op <> 'delete'),
         |post AS (
         |  SELECT json_extract_string(doc, '$$.id') AS id,
         |         json_extract_string(doc, '$$.rev') AS rev,
         |         sha256(json_extract_string(doc, '$$.content')) AS sha
         |  FROM (SELECT *, row_number() OVER (
         |          PARTITION BY json_extract_string(doc, '$$.id')
         |          ORDER BY lsn DESC) AS rn FROM d)
         |  WHERE rn = 1 AND op <> 'delete'),
         |chg AS (
         |  SELECT pre.id AS pid, pre.rev AS prev, pre.sha AS psha,
         |         post.id AS qid, post.rev AS qrev, post.sha AS qsha
         |  FROM post FULL JOIN pre ON post.id = pre.id
         |  WHERE post.id IS NULL OR pre.id IS NULL
         |     OR post.rev <> pre.rev)
         |SELECT qid AS ID, qrev AS REV, qsha AS content_sha,
         |       'insert' AS change_type FROM chg WHERE pid IS NULL
         |UNION ALL
         |SELECT pid, prev, psha, 'delete' FROM chg WHERE qid IS NULL
         |UNION ALL
         |SELECT pid, prev, psha, 'update_preimage' FROM chg
         |WHERE pid IS NOT NULL AND qid IS NOT NULL
         |UNION ALL
         |SELECT qid, qrev, qsha, 'update_postimage' FROM chg
         |WHERE pid IS NOT NULL AND qid IS NOT NULL""".stripMargin,

    // incrementally maintained per-LANG rollup ≡ full recompute over the
    // FINAL winner state (the oracle side is the recompute — equality is
    // exactly the base + CDF-delta invariant)
    "cdc_incr_agg" -> RollupRecomputeSql,

    // the MV fold through the lake merge path must equal the SAME
    // from-scratch recompute (backfill + delta ≡ recompute, now with the
    // read-modify-write merge and extinction deletes in the loop) —
    // deliberately the identical oracle: the two queries assert the same
    // invariant through two different consumer implementations
    "cdc_mv_rollup" -> RollupRecomputeSql,

    // time travel to the phase-1 commit wall clock = the pre-cut live
    // winner state, rebuilt independently from the dumped event tail
    "cdc_time_travel" ->
      s"""WITH d AS (SELECT DISTINCT lsn, op, doc
         |           FROM read_parquet('__OUTDIR__/engine_events/*.parquet'))
         |SELECT json_extract_string(doc, '$$.id') AS ID,
         |       json_extract_string(doc, '$$.rev') AS REV,
         |       sha256(json_extract_string(doc, '$$.content')) AS content_sha
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY json_extract_string(doc, '$$.id')
         |        ORDER BY lsn DESC) AS rn FROM d WHERE lsn < $CfCut)
         |WHERE rn = 1 AND op <> 'delete'""".stripMargin,

    // full value-exact replica of the splitmix64 sample-bucket kernel
    // (ops.Sampling) in HUGEINT mod-2^64 arithmetic: golden-gamma
    // multiply, two xor-shift/multiply finalizer rounds (64×64 products
    // split 32/32 so INT128 never overflows), unsigned top-24 extraction,
    // then the per-stratum threshold join (zh absent -> default 1677721
    // = floor(0.10 * 2^24)). Verified byte-exact on all docs.
    "sample_stratified" ->
      s"""$SampleBucketsCte,
        |rates(lang, thresh) AS (VALUES
        |  ('en', 838860), ('de', 3355443), ('fr', 8388608), ('es', 13421772))
        |SELECT b.doc_id, b.lang, b.sample_bucket
        |FROM buckets b LEFT JOIN rates r USING (lang)
        |WHERE b.sample_bucket < coalesce(r.thresh, 1677721)""".stripMargin,

    // exact-count stratified take: per-stratum top-k by bucket (ties by
    // doc_id) — DuckDB re-derives the bucket VALUE and replays the same
    // deterministic ranking
    "sample_take" ->
      s"""$SampleBucketsCte,
        |targets(lang, t) AS (VALUES ('en', 40), ('de', 25))
        |SELECT doc_id, lang, sample_bucket FROM (
        |  SELECT b.doc_id, b.lang, b.sample_bucket,
        |    coalesce(t.t, 10) AS tgt,
        |    row_number() OVER (PARTITION BY b.lang
        |      ORDER BY b.sample_bucket, b.doc_id) AS rn
        |  FROM buckets b LEFT JOIN targets t USING (lang))
        |WHERE rn <= tgt""".stripMargin,

    // disjoint deterministic split: cumulative bucket thresholds computed
    // by the SAME Scala expression the operator uses (no literal drift)
    "sample_split" ->
      s"""$SampleBucketsCte
        |SELECT doc_id, lang,
        |  CASE WHEN sample_bucket < ${graft.ops.Sampling.thresholdOf(0.8)}
        |         THEN 'train'
        |       WHEN sample_bucket < ${graft.ops.Sampling.thresholdOf(0.8 + 0.1)}
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM buckets""".stripMargin,

    "text_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INTEGER) AS n_tokens,
        |  round(CAST(length(text) AS DOUBLE) /
        |    greatest(CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE), 1.0), 4) AS avg_token_len,
        |  round(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) /
        |    greatest(CAST(length(text) AS DOUBLE), 1.0), 4) AS punct_ratio,
        |  round(1.0
        |    - least(0.5, CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) /
        |        greatest(CAST(length(text) AS DOUBLE), 1.0) * 2)
        |    - least(0.3, CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) /
        |        greatest(CAST(length(text) AS DOUBLE), 1.0))
        |    - CASE WHEN length(text) < 20 THEN 0.4
        |           WHEN length(text) < 100 THEN 0.1 ELSE 0.0 END, 4) AS quality_score
        |FROM documents""".stripMargin,

    // double-first cosine on both sides ⇒ bit-identical folds; ORDER BY is
    // on the ROUNDED value + id on both sides (deterministic top-k)
    "ann_bruteforce" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id AS id,
        |  round(list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) *
        |         list_dot_product(qv, qv)), 6) AS cosine
        |FROM embeddings, q
        |ORDER BY cosine DESC, id
        |LIMIT 20""".stripMargin,

    // exact top-k re-derived OVER THE SAME PROBE PARTITIONS the pruned
    // Spark probe read (index dir + probe-cell list substituted by
    // Verify via [[annOracleSubs]]): DuckDB reads the index layout's
    // hive partitions directly, filters to the probe set, and reranks
    // with the same double-first cosine — independent of Spark's scan,
    // rerank, and ordering (VERDICT r5 #4)
    "ann_lsh" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT id,
        |  round(list_dot_product(CAST(v AS DOUBLE[]), qv) /
        |    sqrt(list_dot_product(CAST(v AS DOUBLE[]), CAST(v AS DOUBLE[])) *
        |         list_dot_product(qv, qv)), 6) AS cosine
        |FROM read_parquet('__ANNIDX__/*/*.parquet', hive_partitioning=true), q
        |WHERE CAST(sig AS BIGINT) IN (__ANNPROBES__)
        |ORDER BY cosine DESC, id
        |LIMIT 20""".stripMargin,

    "ann_ivf" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT id,
        |  round(list_dot_product(CAST(v AS DOUBLE[]), qv) /
        |    sqrt(list_dot_product(CAST(v AS DOUBLE[]), CAST(v AS DOUBLE[])) *
        |         list_dot_product(qv, qv)), 6) AS cosine
        |FROM read_parquet('__IVFIDX__/*/*.parquet', hive_partitioning=true), q
        |WHERE CAST(cell AS INTEGER) IN (__IVFPROBES__)
        |ORDER BY cosine DESC, id
        |LIMIT 20""".stripMargin,

    // all-pairs exact WORD-3-gram Jaccard (feasible in DuckDB at verify
    // SF): the Spark side's r=2/b=48 banding misses a J≥0.5 pair w.p.
    // ≤ 1.1e-6, so candidate-set ∩ threshold ≡ all-pairs ∩ threshold
    "dedup_ngram_jaccard" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ws) < 3 THEN [text]
        |         ELSE list_distinct(list_transform(
        |           range(1, len(ws) - 1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END AS s
        |  FROM w),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS la, len(b.s) AS lb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id1, id2,
        |  round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) AS jaccard
        |FROM pairs
        |WHERE round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) >= 0.5""".stripMargin,

    // transitive closure of the SAME word-3-gram edge set, computed by a
    // structurally different algorithm on each side: Spark runs
    // large-star/small-star to a star-forest fixpoint, DuckDB propagates
    // labels along symmetric edges with a recursive CTE and takes the
    // per-node minimum — agreement pins both the edge set and the closure
    "dedup_components" ->
      """WITH RECURSIVE w AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ws) < 3 THEN [text]
        |         ELSE list_distinct(list_transform(
        |           range(1, len(ws) - 1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END AS s
        |  FROM w),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS la, len(b.s) AS lb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |edges AS (
        |  SELECT id1, id2 FROM pairs
        |  WHERE round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) >= 0.5),
        |sym AS (
        |  SELECT id1 AS a, id2 AS b FROM edges
        |  UNION ALL SELECT id2, id1 FROM edges),
        |reach AS (
        |  SELECT a AS id, a AS lbl FROM sym
        |  UNION
        |  SELECT s.b AS id, r.lbl FROM sym s JOIN reach r ON r.id = s.a),
        |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
        |SELECT id, component,
        |  count(*) OVER (PARTITION BY component) AS cluster_size
        |FROM comp""".stripMargin,

    // ---- round-3 oracles ----

    // all-pairs exact cosine over the SAME planted union (×2 is exact in
    // fp32 ⇒ both engines see bit-identical vectors; natural pairs top
    // out at cosine ≈ 0.51, so the planted pairs are the entire answer —
    // found INDEPENDENTLY on each side: banded LSH + verify in Spark,
    // all-pairs in DuckDB)
    "dedup_embedding" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |             FROM embeddings),
        |u AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(v, x -> x * 2)
        |  FROM base WHERE vec_id < 25
        |  UNION ALL
        |  SELECT vec_id + 2000000, [v[1] * 2] || v[2:]
        |  FROM base WHERE vec_id >= 25 AND vec_id < 50),
        |pairs AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |    round(list_dot_product(a.v, b.v) /
        |      sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)),
        |      4) AS cosine
        |  FROM u a JOIN u b ON a.vec_id < b.vec_id)
        |SELECT id1, id2, cosine FROM pairs WHERE cosine >= 0.9""".stripMargin,

    // planted-recall cohorts: identical text ⇒ identical simhash /
    // minhash signature ⇒ the pair MUST survive the banded join — the
    // oracle enumerates the planted pairs the plumbing must emit
    "dedup_simhash_planted" ->
      """SELECT doc_id AS id1, doc_id + 1000000 AS id2,
        |  CAST(0 AS INTEGER) AS hamming
        |FROM documents WHERE doc_id < 50""".stripMargin,
    "dedup_minhash_planted" ->
      """SELECT doc_id AS id1, doc_id + 1000000 AS id2,
        |  CAST(1.0 AS DOUBLE) AS est_jaccard
        |FROM documents WHERE doc_id < 50""".stripMargin,
    "text_fingerprint_planted" ->
      """SELECT doc_id AS id1, doc_id + 1000000 AS id2
        |FROM documents WHERE doc_id < 50""".stripMargin,

    // ---- round-4 oracles ----

    // all-pairs exact CHAR-5-gram Jaccard at 0.9 (feasible in DuckDB at
    // verify SF): the Spark side's b=16/r=4 banding misses a j ≥ 0.9 pair
    // w.p. ≈ 3.9e-8 and the est ≥ 0.5 prefilter never rejects one, so
    // candidate-set ∩ {j ≥ 0.9} ≡ all-pairs ∩ {j ≥ 0.9}
    "dedup_minhash_lsh" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) < 5 THEN [text]
        |         ELSE list_distinct(list_transform(
        |           range(1, length(text) - 3), i -> text[i:i+4])) END AS s
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS la, len(b.s) AS lb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id1, id2,
        |  round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) AS jaccard
        |FROM pairs
        |WHERE round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) >= 0.9""".stripMargin,

    // independent all-pairs brute force over the SAME planted union
    // (single-element ×2 is exact in fp32 ⇒ both engines see identical
    // vectors): the PRUNED IVF probe must return exactly this top-20
    "ann_ivf_clustered" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |              FROM embeddings),
        |u AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT 1000000 + i, v[1:i] || [v[i+1] * 2] || v[i+2:]
        |  FROM base, range(1, 31) t(i) WHERE vec_id = 0),
        |q AS (SELECT v AS qv FROM u WHERE vec_id = 0)
        |SELECT vec_id AS id,
        |  round(list_dot_product(v, qv) /
        |    sqrt(list_dot_product(v, v) * list_dot_product(qv, qv)), 6)
        |    AS cosine
        |FROM u, q
        |ORDER BY cosine DESC, id
        |LIMIT 20""".stripMargin,

    // recall + the ≥0.8 floor, re-derived against DuckDB's OWN brute
    // force over the union (independent of both Spark paths)
    "ann_clustered_recall" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |              FROM embeddings),
        |u AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT 1000000 + i, v[1:i] || [v[i+1] * 2] || v[i+2:]
        |  FROM base, range(1, 31) t(i) WHERE vec_id = 0),
        |q AS (SELECT v AS qv FROM u WHERE vec_id = 0),
        |bf AS (
        |  SELECT vec_id AS id
        |  FROM u, q
        |  ORDER BY round(list_dot_product(v, qv) /
        |    sqrt(list_dot_product(v, v) * list_dot_product(qv, qv)), 6)
        |    DESC, vec_id
        |  LIMIT 20)
        |SELECT CAST(20 AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS hits,
        |  round(count(*) / 20.0, 4) AS recall,
        |  count(*) >= 16 AS floor_ok
        |FROM bf
        |WHERE EXISTS (SELECT 1
        |  FROM read_parquet('__OUTDIR__/ann_ivf_clustered/*.parquet') l
        |  WHERE l.id = bf.id)""".stripMargin,

    // FULL value-exact replica of the Karp-Rabin winnowed fingerprint
    // kernel (TextOps.fingerprintOf k=8/window=16) in DuckDB HUGEINT
    // arithmetic: closed-form polynomial gram hashes mod 2^64 (inlined
    // B^j constants), SIGNED per-window minima (Java long compare),
    // rotate-left via mul/div by exact powers of two, xor fold, and the
    // Java String.hashCode fallback for sub-k texts. Positions are
    // Unicode codepoints on both sides (the corpus is BMP, where Java's
    // UTF-16 code units coincide). Verified byte-exact on all 500 docs.
    "text_fingerprint" ->
      """WITH src AS (
        |  SELECT doc_id, text,
        |    list_transform(range(1, length(text) + 1),
        |      i -> ord(text[i:i])) AS c
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(c) - 6),
        |      i -> (c[i+0]::HUGEINT * 9015250055358150391::HUGEINT + c[i+1]::HUGEINT * 1423083718267137937::HUGEINT + c[i+2]::HUGEINT * 7232439895113528231::HUGEINT + c[i+3]::HUGEINT * 2173964608407773537::HUGEINT + c[i+4]::HUGEINT * 14069101319555514199::HUGEINT + c[i+5]::HUGEINT * 1000000014000000049::HUGEINT + c[i+6]::HUGEINT * 1000000007::HUGEINT + c[i+7]::HUGEINT * 1::HUGEINT) % 18446744073709551616::HUGEINT) AS h
        |  FROM src WHERE length(text) >= 8),
        |wins AS (
        |  SELECT doc_id, h,
        |    list_transform(range(0, len(h) // 16),
        |      w -> list_min(list_transform(h[w*16+1 : w*16+16],
        |        x -> CASE WHEN x >= 9223372036854775808::HUGEINT
        |             THEN x - 18446744073709551616::HUGEINT ELSE x END))) AS smins
        |  FROM grams),
        |rots AS (
        |  SELECT doc_id, h,
        |    list_transform(range(0, len(smins)),
        |      w -> CAST(
        |        (((CASE WHEN smins[w+1] < 0::HUGEINT
        |            THEN smins[w+1] + 18446744073709551616::HUGEINT
        |            ELSE smins[w+1] END) * power(2, (w % 64))::HUGEINT)
        |          % 18446744073709551616::HUGEINT)
        |        + ((CASE WHEN smins[w+1] < 0::HUGEINT
        |            THEN smins[w+1] + 18446744073709551616::HUGEINT
        |            ELSE smins[w+1] END) // power(2, (64 - (w % 64)))::HUGEINT)
        |        AS UBIGINT)) AS rotl
        |  FROM wins),
        |accs AS (
        |  SELECT doc_id, h,
        |    CASE WHEN len(rotl) = 0 THEN 0::UBIGINT
        |         ELSE list_reduce(rotl, (a, b) -> xor(a, b)) END AS acc
        |  FROM rots)
        |SELECT doc_id,
        |  CAST(CASE WHEN acc <> 0 THEN
        |         CASE WHEN acc::HUGEINT >= 9223372036854775808::HUGEINT
        |              THEN acc::HUGEINT - 18446744073709551616::HUGEINT
        |              ELSE acc::HUGEINT END
        |       ELSE CASE WHEN h[1] >= 9223372036854775808::HUGEINT
        |              THEN h[1] - 18446744073709551616::HUGEINT ELSE h[1] END
        |  END AS BIGINT) AS fingerprint
        |FROM accs
        |UNION ALL
        |SELECT doc_id,
        |  CAST(CASE WHEN jh >= 2147483648 THEN jh - 4294967296 ELSE jh END AS BIGINT)
        |    AS fingerprint
        |FROM (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0::HUGEINT,
        |      list_transform(range(1, length(text) + 1),
        |        i -> ord(text[i:i])::HUGEINT)),
        |      (a, x) -> (a * 31 + x) % 4294967296::HUGEINT) AS jh
        |  FROM documents WHERE length(text) < 8)""".stripMargin,

    // FULL value-exact replica of the SimHash near-dup query in DuckDB:
    // token term-frequencies, Java String.hashCode (32-bit wraparound,
    // sign-extended), the 64-bit mix finalizer (xor-shift-multiply mod
    // 2^64 — multiplications split into 32-bit halves to stay inside
    // INT128), per-bit weighted majority, then the SAME banded-pairs
    // condition the Spark side applies (hamming ≤ 8 AND ≥1 shared 16-bit
    // band of 4). Verified pair-exact (198/198 at sf0.01).
    "dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, tok, count(*)::HUGEINT AS w
        |  FROM (SELECT doc_id, unnest(list_filter(
        |          regexp_split_to_array(text, '\s+'), t -> t <> '')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok),
        |jh AS (
        |  SELECT doc_id, w,
        |    list_reduce(list_prepend(0::HUGEINT,
        |      list_transform(range(1, length(tok) + 1), i -> ord(tok[i:i])::HUGEINT)),
        |      (a, x) -> (a * 31 + x) % 4294967296::HUGEINT) AS h32
        |  FROM toks),
        |x0 AS (
        |  SELECT doc_id, w,
        |    CASE WHEN h32 >= 2147483648::HUGEINT
        |         THEN h32 - 4294967296::HUGEINT + 18446744073709551616::HUGEINT
        |         ELSE h32 END AS x
        |  FROM jh),
        |m1 AS (SELECT doc_id, w,
        |  (x + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS z
        |  FROM x0),
        |m1x AS (SELECT doc_id, w,
        |  xor(CAST(z AS UBIGINT), CAST(z // 1073741824::HUGEINT AS UBIGINT))::HUGEINT AS zx
        |  FROM m1),
        |m2 AS (SELECT doc_id, w, (((zx) % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT % 18446744073709551616::HUGEINT + (((zx) // 4294967296::HUGEINT) * 13787848793156543929::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z FROM m1x),
        |m2x AS (SELECT doc_id, w,
        |  xor(CAST(z AS UBIGINT), CAST(z // 134217728::HUGEINT AS UBIGINT))::HUGEINT AS zx
        |  FROM m2),
        |m3 AS (SELECT doc_id, w, (((zx) % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT % 18446744073709551616::HUGEINT + (((zx) // 4294967296::HUGEINT) * 10723151780598845931::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z FROM m2x),
        |mh AS (SELECT doc_id, w,
        |  xor(CAST(z AS UBIGINT), CAST(z // 2147483648::HUGEINT AS UBIGINT)) AS h
        |  FROM m3),
        |bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (CAST(h AS HUGEINT) // power(2, b)::HUGEINT) % 2 = 1
        |        THEN w ELSE -w END) AS s
        |  FROM mh, range(0, 64) t(b)
        |  GROUP BY doc_id, b),
        |sigs AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN power(2, b)::HUGEINT ELSE 0::HUGEINT END)
        |      AS UBIGINT) AS sh
        |  FROM bits GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    bit_count(xor(a.sh, b.sh)) AS hamming,
        |    CAST(a.sh AS HUGEINT) AS sa, CAST(b.sh AS HUGEINT) AS sb
        |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
        |SELECT id1, id2, CAST(hamming AS INTEGER) AS hamming
        |FROM pairs
        |WHERE hamming <= 8 AND (
        |  (sa % 65536) = (sb % 65536) OR
        |  (sa // 65536 % 65536) = (sb // 65536 % 65536) OR
        |  (sa // 4294967296 % 65536) = (sb // 4294967296 % 65536) OR
        |  (sa // 281474976710656) = (sb // 281474976710656))""".stripMargin,

    // recall containment recomputed over the two dumped top-k results —
    // verifies the join/arithmetic of the recall metric independently
    "ann_recall" ->
      """SELECT CAST(20 AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS hits,
        |  round(count(*) / 20.0, 4) AS recall
        |FROM read_parquet('__OUTDIR__/ann_bruteforce/*.parquet') b
        |WHERE EXISTS (SELECT 1
        |  FROM read_parquet('__OUTDIR__/ann_lsh/*.parquet') l
        |  WHERE l.id = b.id)""".stripMargin,
    "ann_ivf_recall" ->
      """SELECT CAST(20 AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS hits,
        |  round(count(*) / 20.0, 4) AS recall
        |FROM read_parquet('__OUTDIR__/ann_bruteforce/*.parquet') b
        |WHERE EXISTS (SELECT 1
        |  FROM read_parquet('__OUTDIR__/ann_ivf/*.parquet') l
        |  WHERE l.id = b.id)""".stripMargin,

    // streaming dedup: the deterministic surface is the distinct-hash SET
    // (which row of a duplicate group is kept is tie-arbitrary); the
    // oracle recomputes the set over the dumped tail
    "stream_dedup_keys" ->
      """SELECT DISTINCT sha256(doc) AS content_sha
        |FROM read_parquet('__OUTDIR__/engine_events/*.parquet')""".stripMargin,

    // frame counts: an image is 1 frame, video has 2 + i%4 P6 frames
    // (every 2nd sampled), audio has none (absent from the result)
    "mm_frames" ->
      """SELECT CAST(i AS BIGINT) AS asset_id,
        |  CAST(CASE WHEN i % 3 = 0 THEN 1
        |       ELSE CAST(ceil((2 + i % 4) / 2.0) AS INTEGER) END AS BIGINT)
        |    AS n_frames
        |FROM range(0, 200) t(i) WHERE i % 3 <> 1""".stripMargin,

    // REAL-codec oracle: header fields AND the position-weighted content
    // checksum Σ (j+1)·((i·31 + j·131) mod 256) over the logical byte
    // stream — the Spark side recovers it only by correctly parsing the
    // PPM/BMP/WAV containers (BMP bottom-up+BGR+padding undone, WAV chunk
    // walk, PPM header tokens); a mis-parsed header breaks this match.
    // The LOSSY JPEG leg (every 4th image) expects -1: the Spark side
    // emits -1 only when its ImageIO decode sits within the quantization
    // bound of the canonical gradient (Multimodal.corpusChecksum), so a
    // decode bug surfaces as a raw checksum this CASE can never equal
    "mm_decode" ->
      """WITH spec AS (
        |  SELECT i,
        |    CASE CAST(i % 3 AS INTEGER) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    CASE WHEN i % 3 = 0 THEN CAST(32 + i % 32 AS INTEGER)
        |         WHEN i % 3 = 2 THEN CAST(16 + i % 16 AS INTEGER)
        |         ELSE 0 END AS width,
        |    CASE WHEN i % 3 = 0 THEN CAST(24 + i % 24 AS INTEGER)
        |         WHEN i % 3 = 2 THEN CAST(12 + i % 12 AS INTEGER)
        |         ELSE 0 END AS height,
        |    CASE WHEN i % 3 = 1 THEN 1 ELSE 3 END AS channels,
        |    CASE WHEN i % 3 = 0 THEN 0
        |         WHEN i % 3 = 1 THEN 100 + i % 100
        |         ELSE (2 + i % 4) * 40 END AS duration_ms,
        |    CASE WHEN i % 3 = 0 THEN (32 + i % 32) * (24 + i % 24) * 3
        |         WHEN i % 3 = 1 THEN 8 * (100 + i % 100)
        |         ELSE (2 + i % 4) * (16 + i % 16) * (12 + i % 12) * 3
        |         END AS nbytes
        |  FROM range(0, 500) t(i))
        |SELECT CAST(s.i AS BIGINT) AS asset_id, s.kind, s.width, s.height,
        |  s.channels, CAST(s.duration_ms AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN s.kind = 'image' AND (s.i // 3) % 4 = 3 THEN -1
        |       ELSE sum((r.j + 1) * ((s.i * 31 + r.j * 131) % 256))
        |       END AS BIGINT) AS checksum
        |FROM spec s JOIN range(0, 10752) r(j) ON r.j < s.nbytes
        |GROUP BY s.i, s.kind, s.width, s.height, s.channels,
        |  s.duration_ms""".stripMargin,

    // event-time tumbling windows ≡ DuckDB time_bucket on the same
    // deterministic tail (Verify dumps it)
    "stream_event_rate" ->
      """SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start,
        |  json_extract_string(doc, '$.repo') AS repo,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_deletes
        |FROM read_parquet('__OUTDIR__/engine_events/*.parquet')
        |GROUP BY 1, 2""".stripMargin,

    // marker-count heuristic, non-overlapping counts ⇒ replace-and-measure
    // is exact; first-max tie-break mirrors Scala maxBy profile order
    "text_lang_id" ->
      """WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS s FROM documents),
        |sc AS (SELECT doc_id,
        |  (length(s)-length(replace(s,' the ','')))//5 + (length(s)-length(replace(s,' and ','')))//5 +
        |  (length(s)-length(replace(s,' of ','')))//4 + (length(s)-length(replace(s,' to ','')))//4 +
        |  (length(s)-length(replace(s,' is ','')))//4 AS en,
        |  (length(s)-length(replace(s,' der ','')))//5 + (length(s)-length(replace(s,' und ','')))//5 +
        |  (length(s)-length(replace(s,' die ','')))//5 + (length(s)-length(replace(s,' ist ','')))//5 +
        |  (length(s)-length(replace(s,' das ','')))//5 AS de,
        |  (length(s)-length(replace(s,' le ','')))//4 + (length(s)-length(replace(s,' et ','')))//4 +
        |  (length(s)-length(replace(s,' la ','')))//4 + (length(s)-length(replace(s,' est ','')))//5 +
        |  (length(s)-length(replace(s,' les ','')))//5 AS fr,
        |  (length(s)-length(replace(s,' el ','')))//4 + (length(s)-length(replace(s,' y ','')))//3 +
        |  (length(s)-length(replace(s,' la ','')))//4 + (length(s)-length(replace(s,' es ','')))//4 +
        |  (length(s)-length(replace(s,' los ','')))//5 AS es,
        |  (length(s)-length(replace(s,'的',''))) + (length(s)-length(replace(s,'是',''))) +
        |  (length(s)-length(replace(s,'了',''))) + (length(s)-length(replace(s,'在',''))) +
        |  (length(s)-length(replace(s,'我',''))) AS zh
        |FROM p)
        |SELECT doc_id,
        |  CASE WHEN greatest(en, de, fr, es, zh) = 0 THEN 'und'
        |       WHEN en >= de AND en >= fr AND en >= es AND en >= zh THEN 'en'
        |       WHEN de >= fr AND de >= es AND de >= zh THEN 'de'
        |       WHEN fr >= es AND fr >= zh THEN 'fr'
        |       WHEN es >= zh THEN 'es'
        |       ELSE 'zh' END AS pred_lang
        |FROM sc""".stripMargin,
  )
}

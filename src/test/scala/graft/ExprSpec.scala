package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.expressions
import graft.ops.{Dedup, TextOps}

/** Native Catalyst expressions: value parity with the Scala kernels,
  * SQL registration, null propagation, codegen compatibility. */
class ExprSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "spark merge join filter window aggregate",
    "", "a b a b a b")

  test("simhash64 / fingerprint64 match their Scala kernels") {
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "t")
    val rows = df.select(col("id"),
      expressions.simhash64(col("t")).as("sh"),
      expressions.fingerprint64(col("t")).as("fp"))
      .orderBy("id").collect()
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(rows(i).getAs[Long]("sh") == Dedup.simhash(t))
      assert(rows(i).getAs[Long]("fp") == TextOps.fingerprintOf(t))
    }
  }

  test("minhash_sig / hyperplane_sig match their Scala kernels (codegen path)") {
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "t")
    val rows = df.select(col("id"),
      expressions.minhashSig(col("t"), 5, 64).as("sig"))
      .orderBy("id").collect()
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(rows(i).getSeq[Long](1) ==
        Dedup.minhashSignature(t, 5, 64).toSeq)
    }
    val vecs = Seq((0L, Array(0.1f, -0.4f, 0.7f)), (1L, Array(-1f, 2f, -3f)))
      .toDF("id", "v")
    val sigs = vecs.select(col("id"),
      expressions.hyperplaneSig(col("v"), 16, 42L).as("sig"))
      .orderBy("id").collect()
    assert(sigs(0).getLong(1) ==
      graft.ops.Similarity.hyperplaneSig(Array(0.1f, -0.4f, 0.7f), 16, 42L))
    assert(sigs(1).getLong(1) ==
      graft.ops.Similarity.hyperplaneSig(Array(-1f, 2f, -3f), 16, 42L))
    // no UDF node: both stay inside whole-stage codegen
    val plan = df.select(expressions.minhashSig(col("t"), 5, 64))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("cosine_sim / sig_match_count: two instances compile in ONE codegen'd projection") {
    // non-nullable children get no null-check block around the kernel
    // body, so each instance's locals need fresh names; with codegen
    // fallback off a redeclared local fails the query instead of silently
    // re-running it interpreted
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.types._
    import graft.ops.Similarity
    def arr(t: DataType) = ArrayType(t, containsNull = false)
    val schema = StructType(Seq(
      StructField("a", arr(FloatType), nullable = false),
      StructField("b", arr(FloatType), nullable = false),
      StructField("x", arr(LongType), nullable = false),
      StructField("y", arr(LongType), nullable = false)))
    val data = Seq(
      (Array(0.1f, -0.4f, 0.7f), Array(-1f, 2f, -3f),
        Array(1L, 2L, 3L, 4L), Array(1L, 5L, 3L, 9L)),
      (Array(3f, 0.25f), Array(3f, 0.5f), Array(7L, 8L), Array(7L, 8L)))
    // an RDD source: a local relation would be folded by the optimizer
    // and evaluated interpreted, never reaching codegen
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      data.map { case (a, b, x, y) =>
        Row(a.toSeq, b.toSeq, x.toSeq, y.toSeq) }, 2), schema)
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val q = df.select(
        Similarity.cosineCols(col("a"), col("b")),
        Similarity.cosineCols(col("b"), col("a")),
        expressions.sigMatchCount(col("x"), col("y")),
        expressions.sigMatchCount(col("y"), col("x")))
      assert(q.queryExecution.executedPlan
        .exists(_.isInstanceOf[WholeStageCodegenExec]))
      val got = q.collect()
      data.zip(got).foreach { case ((a, b, x, y), r) =>
        def ad(v: Any) = ArrayData.toArrayData(v)
        assert(r.getDouble(0) ==
          Similarity.cosineArrayData(ad(a), ad(b)).doubleValue)
        assert(r.getDouble(1) ==
          Similarity.cosineArrayData(ad(b), ad(a)).doubleValue)
        assert(r.getInt(2) == Dedup.sigMatchCount(ad(x), ad(y)).intValue)
        assert(r.getInt(3) == Dedup.sigMatchCount(ad(y), ad(x)).intValue)
      }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None    => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("null propagates (UnaryExpression null-intolerance)") {
    val df = Seq(Some("x y z"), None).toDF("t")
    val out = df.select(expressions.simhash64(col("t")).as("sh")).collect()
    assert(out.exists(_.isNullAt(0)))
    assert(out.exists(!_.isNullAt(0)))
  }

  test("SQL registration + codegen execution over a real scan") {
    expressions.registerAll(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("g_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, simhash64(text) AS sh, fingerprint64(text) AS fp " +
        "FROM g_docs ORDER BY doc_id LIMIT 5").collect()
    val direct = docs.select(col("doc_id"),
      expressions.simhash64(col("text")).as("sh"),
      expressions.fingerprint64(col("text")).as("fp"))
      .orderBy("doc_id").limit(5).collect()
    assert(viaSql.map(_.toString).toSeq == direct.map(_.toString).toSeq)
    // the expression stays inside the codegen'd project (no BatchEvalPython
    // / ScalaUDF node)
    val plan = docs.select(expressions.simhash64(col("text")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("collect_up_to registered as a SQL aggregate: bounded, grouped") {
    expressions.registerAll(spark)
    import spark.implicits._
    Seq(("a", 1), ("a", 2), ("a", 3), ("b", 9)).toDF("k", "v")
      .createOrReplaceTempView("g_cut")
    val rows = spark.sql(
      "SELECT k, collect_up_to(v, 2) AS g FROM g_cut GROUP BY k ORDER BY k")
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(rows(0).getSeq[Int](1).size == 2)
    assert(rows(0).getSeq[Int](1).toSet.subsetOf(Set(1, 2, 3)))
    assert(rows(1).getSeq[Int](1) == Seq(9))
  }

  test("parameterized SQL functions: literal args parsed, non-literals rejected") {
    expressions.registerAll(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("g_docs2")
    val viaSql = spark.sql(
      "SELECT minhash_sig(text, 5, 64) AS m, word_minhash_sig(text, 3, 32) AS w " +
        "FROM g_docs2 ORDER BY doc_id LIMIT 3").collect()
    val direct = docs.select(
      expressions.minhashSig(col("text"), 5, 64).as("m"),
      expressions.wordMinhashSig(col("text"), 3, 32).as("w"))
      .orderBy("doc_id").limit(3).collect()
    assert(viaSql.map(_.toString).toSeq == direct.map(_.toString).toSeq)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.createOrReplaceTempView("g_emb")
    val sigs = spark.sql(
      "SELECT hyperplane_sig(embedding, 16, 42) AS s FROM g_emb LIMIT 3")
      .collect()
    assert(sigs.forall(r => !r.isNullAt(0)))
    val err = intercept[Exception](
      spark.sql("SELECT minhash_sig(text, doc_id, 64) FROM g_docs2 LIMIT 1")
        .collect())
    assert(err.getMessage.contains("integer literal"), err.getMessage)
  }

  test("GraftExtensions injects the full function table at session build") {
    // the extensions seam itself (spark.sql.extensions=graft.GraftExtensions)
    // can only run at SparkSession construction; here we verify the class
    // wires every GraftFunctions entry into an injection list without error
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    // and that the shared table covers every kernel
    assert(graft.functions.GraftFunctions.all.map(_._1.funcName).toSet ==
      Set("simhash64", "fingerprint64", "minhash_sig", "word_minhash_sig",
        "hyperplane_sig", "lang_id", "collect_up_to",
        "char_shingles", "word_shingles", "sorted_jaccard", "sample_bucket"))
  }
}

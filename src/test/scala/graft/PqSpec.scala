package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

/** Product quantization (Similarity.pqTrain / pqEncodeCorpus / pqTopK
  * + the PqEncode / PqAdcDot kernels): training must be deterministic,
  * the kernels must match a driver-side Scala recompute and their own
  * interpreted path, malformed inputs must null out row-uniformly, and
  * the ADC ranking must recover the exact top-k to a measured recall
  * floor (exact by brute force on the same rows). */
class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01" // 500 vectors
  private lazy val emb = graft.queries.t(spark, sf, "embeddings")
  private lazy val model =
    Similarity.pqTrain(emb, col("vec_id"), col("embedding"))
  private lazy val codes = Similarity
    .pqEncodeCorpus(emb, col("vec_id"), col("embedding"), model)

  private def normalized(v: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  test("pqTrain is deterministic and well-shaped") {
    assert(model.m == 8 && model.kc == 16 && model.dsub == 8)
    assert(model.codebookFlat.length == 8 * 16 * 8)
    assert(model.codebookFlat.forall(java.lang.Double.isFinite))
    val again = Similarity.pqTrain(emb, col("vec_id"), col("embedding"))
    assert(again == model, "retrain on the same data must be bit-identical")
  }

  test("encode kernel matches a driver-side Scala recompute on every row") {
    val rows = codes
      .join(emb.select(col("vec_id").as("id"), col("embedding")), "id")
      .select(col("id"), col("codes"),
        col("embedding").cast("array<double>").as("v"))
      .collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val got = r.getAs[Array[Byte]](1).map(_ & 0xFF).toSeq
      assert(got.length == model.m &&
        got.forall(c => c >= 0 && c < model.kc), s"codes out of shape: $got")
      val vn = normalized(r.getSeq[Double](2))
      // minBy takes the FIRST minimum — the kernel's strict-< tie rule
      val want = (0 until model.m).map { j =>
        (0 until model.kc).minBy { c =>
          val off = (j * model.kc + c) * model.dsub
          (0 until model.dsub).map { t =>
            val d = vn(j * model.dsub + t) - model.codebookFlat(off + t)
            d * d
          }.sum
        }
      }
      assert(got == want, s"vec ${r.getLong(0)}: kernel $got vs scala $want")
    }
  }

  test("ADC kernel equals the manual lookup sum, and its interpreted path") {
    val q = emb.filter(col("vec_id") === 7L)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
    val lut = model.lut(q)
    val scored = codes
      .select(col("id"), col("codes"),
        graft.functions.GraftFunctions.pqAdc(col("codes"), lut, model.kc).as("adc"))
      .collect()
    val expr = graft.functions.PqAdcDot(
      BoundReference(0, BinaryType, nullable = true), lut, model.kc)
    scored.foreach { r =>
      val bytes = r.getAs[Array[Byte]](1)
      val manual = bytes.zipWithIndex
        .map { case (c, j) => lut(j * model.kc + (c & 0xFF)) }.sum
      assert(math.abs(r.getDouble(2) - manual) < 1e-12)
      val interp = expr.eval(InternalRow(bytes))
      assert(interp == r.getDouble(2), "interpreted != codegen")
    }
  }

  test("encode interpreted path equals the codegen DataFrame result") {
    val vecs = emb.limit(40)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0)).toSeq
    val expr = graft.functions.PqEncode(
      BoundReference(0, ArrayType(DoubleType, containsNull = false),
        nullable = true), model.codebookFlat, model.m, model.kc)
    val interpreted = vecs.map(v => expr.eval(InternalRow(
        new GenericArrayData(normalized(v).toArray)))
      .asInstanceOf[Array[Byte]].toSeq)
    val codegen = vecs.zipWithIndex.map(_.swap).toDF("i", "v")
      .orderBy("i")
      .withColumn("__n",
        sqrt(graft.functions.GraftFunctions.dot(col("v"), col("v"))))
      .withColumn("vn", transform(col("v"), x => x / col("__n")))
      .select(graft.functions.GraftFunctions.pqEncode(
        col("vn"), model.codebookFlat, model.m, model.kc).as("c"))
      .collect().map(_.getAs[Array[Byte]](0).toSeq).toSeq
    assert(interpreted == codegen)
  }

  test("null contract: null / wrong-length / non-finite vectors null out") {
    val bad = Seq(
      (1L, Some(Seq.fill(64)(0.5))),                  // fine
      (2L, None),                                     // null vector
      (3L, Some(Seq.fill(16)(0.5))),                  // wrong length
      (4L, Some(Seq.tabulate(64)(i =>
        if (i == 3) Double.NaN else 0.5))),           // NaN element
      (5L, Some(Seq.fill(64)(0.0)))                   // zero norm
    ).toDF("vec_id", "embedding")
    val out = Similarity
      .pqEncodeCorpus(bad, col("vec_id"), col("embedding"), model)
      .collect().map(r => r.getLong(0) -> (!r.isNullAt(1))).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> false), out.toString)
    // the ADC stage drops them: only the good row survives a probe
    val q = Seq.tabulate(64)(i => if (i % 2 == 0) 1.0 else -0.5)
    val top = Similarity.pqTopK(
      Similarity.pqEncodeCorpus(bad, col("vec_id"), col("embedding"), model),
      col("id"), col("codes"), q, 5, model).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("checkedPqCodes raises on a model-shape mismatch, passes on match") {
    // force the guard column's EVALUATION: count() prunes pruneable
    // projections (including their raise_error branch) — aggregate
    // over the guarded values instead
    val ok = codes.select(
        Similarity.checkedPqCodes(col("codes"), model.m).as("c"))
      .agg(sum(length(col("c")))).head.getLong(0)
    assert(ok == 500L * model.m)
    val ex = intercept[Exception] {
      codes.select(
          Similarity.checkedPqCodes(col("codes"), model.m + 1).as("c"))
        .agg(sum(length(col("c")))).head
    }
    def msg(t: Throwable): String =
      Option(t.getCause).map(c => t.getMessage + msg(c)).getOrElse(t.getMessage)
    assert(msg(ex).contains("pq codes shape mismatch"), msg(ex))
  }

  test("ADC ranking recovers the exact top-k (measured recall floors)") {
    val qRow = emb.filter(col("vec_id") === 7L)
    val q = qRow.select(col("embedding").cast("array<double>"))
      .head.getSeq[Double](0)
    val exact = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") =!= 7L), col("vec_id"), col("embedding"),
        qRow, col("embedding"), 10)
      .collect().map(_.getLong(0)).toSet
    val corpus = emb.filter(col("vec_id") =!= 7L)
    val cs = Similarity.pqEncodeCorpus(
      corpus, col("vec_id"), col("embedding"), model)
    val adcOnly = Similarity.pqTopK(cs, col("id"), col("codes"), q, 10, model)
      .collect().map(_.getLong(0)).toSet
    val reranked = Similarity.pqTopK(cs, col("id"), col("codes"), q, 10, model,
        rerank = corpus, rerankIdCol = col("vec_id"),
        rerankVecCol = col("embedding"), rerankDepth = 50)
      .collect().map(_.getLong(0)).toSet
    val rAdc = (exact & adcOnly).size / 10.0
    val rRerank = (exact & reranked).size / 10.0
    info(s"recall@10: adc-only=$rAdc reranked=$rRerank")
    // deterministic data + deterministic model → these are fixed
    // values; the floors sit below the measured readings so the test
    // detects a broken codec, not codebook noise
    assert(rAdc >= 0.2, s"ADC-only recall@10 = $rAdc")
    assert(rRerank >= 0.6, s"reranked recall@10 = $rRerank")
    assert(rRerank >= rAdc, "reranking must not lose recall")
  }

  test("two ADC columns in one projection stay codegen'd (no name collision)") {
    // pins the generated-code health of multi-LUT scoring: a local
    // name collision across the two kernel bodies would fail Janino
    // and silently drop the stage to interpreted. fallback=false
    // turns that silent downgrade into a test failure.
    val prior = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val q1 = emb.filter(col("vec_id") === 7L)
        .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
      val q2 = emb.filter(col("vec_id") === 9L)
        .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
      val both = codes.select(col("id"),
          graft.functions.GraftFunctions.pqAdc(col("codes"), model.lut(q1),
            model.kc).as("a1"),
          graft.functions.GraftFunctions.pqAdc(col("codes"), model.lut(q2),
            model.kc).as("a2"))
        .collect()
      assert(both.length == 500)
      assert(both.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
      assert(both.exists(r => r.getDouble(1) != r.getDouble(2)),
        "two different LUTs must score differently somewhere")
    } finally prior match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("model persists and loads bit-identically (swap-published)") {
    val dir = graft.etl.Scratch.dir("graft_pq_model") + "/model"
    Similarity.savePqModel(spark, dir, model)
    assert(Similarity.loadPqModel(spark, dir) == model)
    // re-publish over the live model (the retrain path): still loads
    Similarity.savePqModel(spark, dir, model)
    assert(Similarity.loadPqModel(spark, dir) == model)
  }

  test("pq top-k plans as TakeOrderedAndProject, never a global sort") {
    val q = Seq.tabulate(64)(i => math.sin(i + 1.0))
    val plan = Similarity.pqTopK(codes, col("id"), col("codes"), q, 10, model)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SortExec"), plan)
  }

  test("SQL surface: graft_pq_encode / graft_pq_adc compose in SQL") {
    graft.functions.GraftFunctions.register(spark)
    // m=2, kc=2, dsub=1: codebook (0,1 | 0,1); v=(0.9, 0.1) → codes
    // (1, 0); lut (10,20 | 30,40) → adc = 20 + 30
    val got = spark.sql(
      """SELECT graft_pq_adc(
        |  graft_pq_encode(array(0.9D, 0.1D), array(0D, 1D, 0D, 1D), 2, 2),
        |  array(10D, 20D, 30D, 40D), 2) AS s""".stripMargin)
      .head.getDouble(0)
    assert(got == 50.0)
  }
}

package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bit-parity of the codegen'd [[MatVecAffine]] against the
  * interpreted HOF fold it replaced ([[MatVecAffineSpec.affineFold]]),
  * including the fold's null quirks, plus the whole-stage-codegen
  * pin. The q_gnn_forward / q_gnn_head oracles additionally pin the
  * production path cross-engine on real data. */
class MatVecAffineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val w = Seq(
    Seq(0.3, -0.2, 0.7), Seq(0.1, 0.4, -0.5),
    Seq(-0.3, 0.2, 0.9), Seq(0.2, 0.1, -0.1), Seq(0.5, -0.4, 0.3))
  private val b = Seq(0.05, -0.05, 0.2)
  private val acts = Seq("relu", "sigmoid", "softplus", "linear")

  private def vecs = {
    val rng = new scala.util.Random(41L)
    (0 until 64).map { i =>
      (i.toLong, Seq.fill(5)(rng.nextDouble() * 20 - 10))
    }.toDF("id", "z")
  }

  test("element-for-element bit parity with the HOF fold, all activations") {
    for (act <- acts) {
      val rows = vecs.select(
        MatVecAffine.affineNative(col("z"), w, b, act).as("nat"),
        MatVecAffineSpec.affineFold(col("z"), w, b, act).as("hof"))
        .collect()
      rows.foreach { r =>
        val nat = r.getSeq[Double](0)
        val hof = r.getSeq[Double](1)
        assert(nat.size === hof.size)
        nat.zip(hof).zipWithIndex.foreach { case ((n, h), k) =>
          assert(java.lang.Double.doubleToRawLongBits(n) ===
            java.lang.Double.doubleToRawLongBits(h),
            s"act=$act k=$k native=$n hof=$h")
        }
      }
    }
  }

  test("extreme magnitudes: softplus overflow guard and sigmoid saturation match") {
    val big = Seq((1L, Seq(1e6, -1e6, 1e3, -1e3, 0.0)),
      (2L, Seq(Double.MaxValue / 1e10, -1.0, 2.0, 3.0, 4.0))).toDF("id", "z")
    for (act <- acts) {
      val rows = big.select(
        MatVecAffine.affineNative(col("z"), w, b, act).as("nat"),
        MatVecAffineSpec.affineFold(col("z"), w, b, act).as("hof")).collect()
      rows.foreach { r =>
        r.getSeq[Double](0).zip(r.getSeq[Double](1)).foreach { case (n, h) =>
          assert(java.lang.Double.doubleToRawLongBits(n) ===
            java.lang.Double.doubleToRawLongBits(h), s"act=$act")
        }
      }
    }
  }

  test("null quirks: null array, null element, length mismatch") {
    val odd = Seq(
      (1L, null: Seq[java.lang.Double]),                               // null array
      (2L, Seq[java.lang.Double](1.0, null, 3.0, 4.0, 5.0)),           // null element
      (3L, Seq[java.lang.Double](1.0, 2.0)),                           // too short
      (4L, Seq[java.lang.Double](1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0))   // too long
    ).toDF("id", "z")
    for (act <- acts) {
      val rows = odd.select(col("id"),
        MatVecAffine.affineNative(col("z"), w, b, act).as("nat"),
        MatVecAffineSpec.affineFold(col("z"), w, b, act).as("hof")).collect()
      rows.foreach { r =>
        if (r.isNullAt(1) || r.isNullAt(2)) {
          assert(r.isNullAt(1) === r.isNullAt(2), s"act=$act id=${r.getLong(0)}")
        } else {
          val nat = r.getSeq[java.lang.Double](1)
          val hof = r.getSeq[java.lang.Double](2)
          assert(nat === hof, s"act=$act id=${r.getLong(0)}")
          // every row here is a bad case (null array / null element /
          // length mismatch) — the fold's greatest(null, 0.0) quirk:
          // relu maps the null sums to 0.0, the others propagate null
          if (act == "relu") assert(nat.forall(_ == 0.0))
          else assert(nat.forall(_ == null))
        }
      }
    }
  }

  test("expression participates in whole-stage codegen") {
    val df = spark.range(100).select(array(
      col("id").cast("double"), (col("id") + 1).cast("double"),
      (col("id") + 2).cast("double"), (col("id") + 3).cast("double"),
      (col("id") * 2).cast("double")).as("z"))
    val q = df.select(MatVecAffine.affineNative(col("z"), w, b, "sigmoid").as("o"))
    val wsc = q.queryExecution.executedPlan.collect {
      case x: org.apache.spark.sql.execution.WholeStageCodegenExec => x
    }
    assert(wsc.exists(_.toString.contains("matvec_affine")),
      q.queryExecution.executedPlan.toString)
    assert(q.count() === 100)
  }
}

object MatVecAffineSpec {

  /** The higher-order-function form of `GnnInference`'s affine layer
    * (CodegenFallback), kept as the reference the native expression is
    * checked against, like Similarity.dotFold. */
  def affineFold(z: Column, w: Seq[Seq[Double]], b: Seq[Double], act: String): Column = {
    val wl = typedLit(w)
    val bl = typedLit(b)
    val raw = transform(sequence(lit(0), lit(b.size - 1)), k =>
      element_at(bl, k + 1) +
        aggregate(
          zip_with(z, transform(wl, row => element_at(row, k + 1)), (zi, wi) => zi * wi),
          lit(0.0), (acc, x) => acc + x))
    act match {
      case "relu" => transform(raw, v => greatest(v, lit(0.0)))
      case "sigmoid" => transform(raw, v => lit(1.0) / (lit(1.0) + exp(-v)))
      case "softplus" =>
        // ln(1+eˣ) with the standard overflow guard max(x,0)+ln(1+e^−|x|)
        transform(raw, v => greatest(v, lit(0.0)) + log(lit(1.0) + exp(-abs(v))))
      case _ => raw
    }
  }
}

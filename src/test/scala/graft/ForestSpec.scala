package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GridMeta
import graft.operators.{Cart, ForestEval, Predict}
import graft.queries.StackQueries
import graft.sources.RasterStack

/**
 * Tree-ensemble predict (operators.Cart + Predict.Forest*Model) — the
 * reference's actual estimator family (tests/test_prediction.py trains
 * RandomForestClassifier/Regressor through predict/predict_proba).
 * q80/q81 pin the frozen forests cross-engine; these specs pin the
 * Column ≡ scalar parity (including NULL, NaN, ±0.0, ±Inf and features
 * exactly on a split threshold, through generated code and interpreted
 * eval, against the nested-CASE Columns the forests used to compile
 * to), the argmax tie rule, trainer determinism, and that training
 * actually reduces error.
 */
class ForestSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val G = GridMeta.TestGrid
  private def st = StackQueries.stack(spark)

  // The nested-CASE Columns the forests compiled to before ForestEval:
  // an independent oracle of Spark's `<=`, `>=` and NULL semantics.
  private def caseTree(t: Predict.Tree, fs: Seq[Column], c: Int): Column = t match {
    case Predict.Leaf(v) => lit(v(c))
    case Predict.Split(f, th, lo, hi) =>
      when(fs(f) <= lit(th), caseTree(lo, fs, c)).otherwise(caseTree(hi, fs, c))
  }
  private def caseMean(trees: Array[Predict.Tree], fs: Seq[Column], c: Int): Column =
    trees.toSeq.map(caseTree(_, fs, c)).reduce(_ + _) / lit(trees.length.toDouble)
  private def caseArgmax(ps: Seq[Column]): Column = {
    def arg(i: Int): Column =
      if (i == ps.length - 1) lit(i.toDouble)
      else when((i + 1 until ps.length).map(j => ps(i) >= ps(j)).reduce(_ && _),
        lit(i.toDouble)).otherwise(arg(i + 1))
    arg(0)
  }

  /** Feature rows on every split threshold and one ulp either side of
    * it, or NULL, NaN, ±0.0, ±Inf: row i takes entry (i·(2f+1) + f) of
    * feature f's list, so each value meets varied partners. */
  private def edgeRows(trees: Array[Predict.Tree], nf: Int): Seq[Seq[java.lang.Double]] = {
    def splits(t: Predict.Tree): Seq[(Int, Double)] = t match {
      case Predict.Leaf(_) => Nil
      case Predict.Split(f, th, lo, hi) => (f, th) +: (splits(lo) ++ splits(hi))
    }
    val all = trees.toSeq.flatMap(splits)
    val specials = Seq[java.lang.Double](null, Double.NaN, 0.0, -0.0,
      Double.PositiveInfinity, Double.NegativeInfinity)
    val perF = (0 until nf).map(f => (specials ++ all.collect { case (`f`, th) =>
      Seq(th, math.nextDown(th), math.nextUp(th)).map(Double.box) }.flatten).distinct)
    (0 until perF.map(_.length).max * 7).map(i =>
      (0 until nf).map(f => perF(f)((i * (2 * f + 1) + f) % perF(f).length)))
  }

  /** Outputs `outs` of `forest` on `rows`, compared bit for bit
    * (Double.equals: NaN == NaN, +0.0 != -0.0) five ways: the kernel's
    * generated code and interpreted eval, the scalar twin (NULL passed
    * as NaN), and the model's Columns and the nested-CASE `oracle`
    * through a whole-stage-codegen'd plan. */
  private def assertParity(forest: Predict.Forest, outs: Seq[Int],
                           columns: Seq[Column] => Seq[Column],
                           oracle: Seq[Column] => Seq[Column],
                           rows: Seq[Seq[java.lang.Double]]): Unit = {
    val nf = rows.head.length
    val refs = (0 until nf).map(BoundReference(_, DoubleType, nullable = true))
    val exprs = outs.map(ForestEval(refs, forest, _))
    val generated = GenerateUnsafeProjection.generate(exprs)
    val names = (0 until nf).map(i => s"f$i")
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row(_: _*)), 3),
      StructType(names.map(StructField(_, DoubleType, nullable = true))))
    val fs = names.map(col)
    val viaPlan = df.select(fs ++ columns(fs) ++ oracle(fs): _*).collect()
    assert(viaPlan.length === rows.length)
    val n = outs.length
    viaPlan.foreach { r =>
      val feats = (0 until nf).map(i => if (r.isNullAt(i)) null else r.getDouble(i))
      val x = feats.map(v => if (v == null) Double.NaN else v.asInstanceOf[Double]).toArray
      val want: Seq[Any] = outs.map(forest.output(x, _))
      val row = InternalRow.fromSeq(feats)
      val gen = generated(row)
      val got = Map(
        "generated" -> (0 until n).map(gen.getDouble),
        "interpreted" -> exprs.map(_.eval(row)),
        "plan" -> (0 until n).map(i => r.get(nf + i)),
        "nested CASE" -> (0 until n).map(i => r.get(nf + n + i)))
      got.foreach { case (path, vs) =>
        assert(vs.zip(want).forall { case (a, b) => java.util.Objects.equals(a, b) },
          s"$path ${vs.mkString(",")} != scalar ${want.mkString(",")} at ${feats.mkString(",")}")
      }
    }
  }

  /** [[assertParity]] over every class probability and the argmax. */
  private def assertClassifierParity(m: Predict.ForestClassifierModel,
                                     rows: Seq[Seq[java.lang.Double]]): Unit =
    assertParity(m, (0 until m.numClasses) :+ ForestEval.Argmax,
      fs => m.probColumns(fs) :+ m.column(fs),
      fs => {
        val ps = (0 until m.numClasses).map(caseMean(m.trees, fs, _))
        ps :+ caseArgmax(ps)
      }, rows)

  test("forest regressor: Column path ≡ scalar treeEval on valid pixels") {
    val model = StackQueries.RegForest
    val got = Predict.predict(st.df, StackQueries.ForestFeats, model)
      .where(StackQueries.ForestFeats.map(col(_).isNotNull).reduce(_ && _))
      .select("row", "col", "b1", "b2", "b3", "b4", "b5", "pred_raw_0")
      .limit(2000).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val x = Array.tabulate(5)(i => r.getDouble(2 + i))
      assert(r.getDouble(7) === model.predict(x), s"pixel (${r.getLong(0)},${r.getLong(1)})")
    }
    assertParity(model, Seq(0), fs => Seq(model.column(fs)),
      fs => Seq(caseMean(model.trees, fs, 0)), edgeRows(model.trees, 5))
  }

  test("forest classifier: probs sum to 1, pred ≡ scalar argmax, codegen path (no UDF)") {
    val model = StackQueries.ClsForest
    val d = Predict.predict(
      Predict.predictProba(st.df, StackQueries.ForestFeats, model),
      StackQueries.ForestFeats, model)
    // fast path: no ScalaUDF in the plan (generic ProbPredictors keep the UDF)
    assert(!d.queryExecution.optimizedPlan.toString.contains("UDF"))
    val rows = d.where(StackQueries.ForestFeats.map(col(_).isNotNull).reduce(_ && _))
      .select("b1", "b2", "b3", "b4", "b5", "prob_0", "prob_1", "prob_2", "pred_raw_0")
      .limit(2000).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val x = Array.tabulate(5)(i => r.getDouble(i))
      val ps = Seq(5, 6, 7).map(r.getDouble)
      assert(math.abs(ps.sum - 1.0) < 1e-9)
      assert(ps === model.predictProba(x).toSeq)
      assert(r.getDouble(8) === model.predict(x))
    }
    assertClassifierParity(model, edgeRows(model.trees, 5))
  }

  test("argmax tie rule: first max wins (numpy argmax), Column ≡ scalar") {
    // hand-built 1-tree 'forest' whose leaf is a perfect 3-way tie
    val tie = Predict.ForestClassifierModel(
      Array(Predict.Leaf(Array(1.0 / 3, 1.0 / 3, 1.0 / 3))), 3)
    assert(tie.predict(Array(0.0)) === 0.0)
    val d = Seq((1.0, 2.0)).toDF("f", "ignore")
    assert(d.select(tie.column(Seq(col("f"))).as("p")).head.getDouble(0) === 0.0)
    // and a later-class strict max is found
    val skew = Predict.ForestClassifierModel(
      Array(Predict.Leaf(Array(0.2, 0.3, 0.5))), 3)
    assert(skew.predict(Array(0.0)) === 2.0)
    // +0.0 ties -0.0; NaN orders above every value, as in Spark and
    // DuckDB, so the NaN class beats the later 0.5
    val signed = Predict.ForestClassifierModel(Array(Predict.Leaf(Array(-0.0, 0.0, -1.0))), 3)
    val nan = Predict.ForestClassifierModel(Array(Predict.Leaf(Array(0.5, Double.NaN, 0.5))), 3)
    assert(signed.predict(Array(0.0)) === 0.0)
    assert(nan.predict(Array(0.0)) === 1.0)
    Seq(signed, nan).foreach(assertClassifierParity(_,
      Seq(Seq[java.lang.Double](0.0), Seq[java.lang.Double](null))))
  }

  test("a NaN split threshold is rejected") {
    intercept[IllegalArgumentException](
      Predict.Split(0, Double.NaN, Predict.Leaf(Array(0.0)), Predict.Leaf(Array(1.0))))
  }

  test("predict_proba: a black-box ProbPredictor scores through the UDF, same values as the Column path") {
    val squash = Predict.SquashModel(Predict.LinearModel(Array(0.02, -0.01, 0.015, -0.02, 0.01), -1.0))
    val blackBox = new Predict.ProbPredictor {
      def numClasses: Int = 2
      def predictProba(x: Array[Double]): Array[Double] = squash.predictProba(x)
    }
    val feats = StackQueries.ForestFeats
    val viaUdf = Predict.predictProba(st.df, feats, blackBox)
    val viaCol = Predict.predictProba(st.df, feats, squash)
    assert(viaUdf.queryExecution.optimizedPlan.toString.contains("UDF"))
    assert(!viaCol.queryExecution.optimizedPlan.toString.contains("UDF"))
    val rows = viaUdf.select(col("row"), col("col"), col("prob_0").as("u0"), col("prob_1").as("u1"))
      .join(viaCol.select("row", "col", "prob_0", "prob_1"), Seq("row", "col"))
      .collect()
    assert(rows.exists(_.isNullAt(2)) && rows.exists(!_.isNullAt(2)))
    rows.foreach { r =>
      // masked pixels are NULL on both paths; the rest agree bit for bit
      Seq(2 -> 4, 3 -> 5).foreach { case (u, c) =>
        assert(java.util.Objects.equals(r.get(u), r.get(c)), s"$r") }
    }
  }

  test("trainer is deterministic and beats the constant-mean predictor") {
    val model = StackQueries.RegForest
    val again = Cart.fitRegressionForest(sample._1, sample._2,
      Cart.Config(nTrees = 10, maxDepth = 4, minLeaf = 5, mtry = 5, seed = 29))
    assert(model.sql(StackQueries.ForestFeats) === again.sql(StackQueries.ForestFeats))
    val (xs, ys) = sample
    val mean = ys.sum / ys.length
    val sseMean = ys.map(y => (y - mean) * (y - mean)).sum
    val sseForest = xs.zip(ys).map { case (x, y) =>
      val p = model.predict(x); (y - p) * (y - p)
    }.sum
    assert(sseForest < sseMean, s"forest SSE $sseForest vs mean SSE $sseMean")
  }

  private lazy val sample: (Array[Array[Double]], Array[Double]) = {
    val rows = for {
      key <- 5L until G.cells by 101L
      r = key / G.width; c = key % G.width
      vals = RasterStack.NcBands.map(RasterStack.bandScalar(r, c, _))
      if vals.forall(_.isDefined)
    } yield (vals.init.map(_.get).toArray, vals.last.get)
    (rows.map(_._1).toArray, rows.map(_._2).toArray)
  }

  test("fitForestFrom: bounded deterministic collect, stable across plans") {
    val cfg = Cart.Config(nTrees = 3, maxDepth = 3, minLeaf = 5, mtry = 5, seed = 7)
    val key = col("row") * G.width.toLong + col("col")
    val m1 = Cart.fitForestFrom(st.df, StackQueries.ForestFeats, "b7", key, 500, cfg)
    val m2 = Cart.fitForestFrom(st.df.repartition(7), StackQueries.ForestFeats, "b7", key, 500, cfg)
    assert(m1.sql(StackQueries.ForestFeats) === m2.sql(StackQueries.ForestFeats))
  }
}

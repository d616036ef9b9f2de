package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType}

/**
 * Batch scoring (reference raster.py:845-1218, kernels _prediction.py):
 * a pluggable `Predictor` scored over the feature layers with the
 * reference's masking rule — OUTPUT NULL WHERE ANY INPUT FEATURE IS NULL
 * (_prediction.py:101-112) — and `constants` semantics (append constant
 * features, or override named features, error on unknown key —
 * _prediction.py:5-58).
 *
 * Physical shapes:
 *  - models exposing a Column expression ([[ColumnPredictor]]) score
 *    inside WholeStageCodegen — zero serialization. Linear and squash
 *    models compile to arithmetic; tree ensembles to one [[ForestEval]]
 *    kernel call per output, which runs the scalar twin over the
 *    plan-shipped model;
 *  - black-box models score via a vectorized-per-row Scala UDF over an
 *    array of features (the Spark analogue of the reference's
 *    block-flattened `estimator.predict` batches).
 * Either way the masking rule is applied OUTSIDE the model, exactly like
 * the reference re-masks after scoring.
 */
object Predict {

  /** Black-box row scorer. */
  trait Predictor extends Serializable {
    def predict(features: Array[Double]): Double
  }

  /** Multi-class scorer (reference predict_proba, raster.py:845-1025). */
  trait ProbPredictor extends Serializable {
    def numClasses: Int
    def predictProba(features: Array[Double]): Array[Double]
  }

  /** Models that can compile themselves to a Catalyst expression. */
  trait ColumnPredictor extends Predictor {
    def column(features: Seq[Column]): Column
  }

  /**
   * Deterministic linear model — the test fixture (FIXTURES.md: frozen
   * weights, no sklearn). Accumulates left-to-right so the SQL oracle's
   * `((0 + w1*x1) + w2*x2) ... + bias` reproduces it bit-for-bit.
   */
  final case class LinearModel(weights: Array[Double], bias: Double)
      extends ColumnPredictor {
    override def predict(x: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < weights.length) { acc += weights(i) * x(i); i += 1 }
      acc + bias
    }
    override def column(features: Seq[Column]): Column =
      weights.zip(features).foldLeft(lit(0.0)) { case (acc, (w, f)) => acc + lit(w) * f } + lit(bias)
  }

  /**
   * Rational squashing classifier: p1 = 0.5 + z/(2*(1+|z|)) — a
   * sigmoid-shaped link using only +,*,/,abs so both engines produce
   * identical IEEE doubles (no libm). 2 classes: (1-p1, p1).
   */
  final case class SquashModel(lin: LinearModel) extends ColumnProbPredictor {
    override def numClasses: Int = 2
    override def predictProba(x: Array[Double]): Array[Double] = {
      val z = lin.predict(x)
      val p1 = 0.5 + z / (2.0 * (1.0 + math.abs(z)))
      Array(1.0 - p1, p1)
    }
    override def probColumns(features: Seq[Column]): Seq[Column] = {
      val z = lin.column(features)
      val p1 = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
      Seq(lit(1.0) - p1, p1)
    }
  }

  // -- tree ensembles (the reference's actual estimator family:
  // tests/test_prediction.py trains RandomForestClassifier/Regressor
  // and runs them through predict/predict_proba) --------------------

  /** CART node: sklearn split semantics — `x(feature) <= thresh` goes
    * lo. Leaves carry an output VECTOR (length 1 for regression, class
    * distribution for classification) so one ADT serves both. A NaN
    * threshold is rejected: Spark and DuckDB order NaN above every
    * double, so `x <= NaN` would hold there and fail in [[treeEval]]. */
  sealed trait Tree extends Serializable
  final case class Leaf(values: Array[Double]) extends Tree
  final case class Split(feature: Int, thresh: Double, lo: Tree, hi: Tree) extends Tree {
    require(!thresh.isNaN, "split threshold is NaN")
  }

  /** SQL text of output `c` of a tree: nested CASE over the frozen
    * branch/leaf literals (the oracle's twin of [[treeEval]]; a NULL
    * feature fails `<=` and takes the hi branch, as a NaN does). */
  def treeSql(t: Tree, feats: Seq[String], c: Int): String = t match {
    case Leaf(v) => graft.sources.OracleLit.d(v(c))
    case Split(f, th, lo, hi) =>
      s"(CASE WHEN ${feats(f)} <= ${graft.sources.OracleLit.d(th)} " +
        s"THEN ${treeSql(lo, feats, c)} ELSE ${treeSql(hi, feats, c)} END)"
  }

  /** Output `c` of a tree for one feature row — the one evaluation of
    * a tree, run by the scalar models and the [[ForestEval]] kernel.
    * The kernel passes a NULL feature as NaN, which fails `<=` and goes
    * hi exactly like the SQL twin's NULL. */
  def treeEval(t: Tree, x: Array[Double], c: Int): Double = t match {
    case Leaf(v) => v(c)
    case Split(f, th, lo, hi) => if (x(f) <= th) treeEval(lo, x, c) else treeEval(hi, x, c)
  }

  /** Mean of output `c` over the trees: left-associative sum, then ONE
    * division — the oracle's `((t1 + t2) + ...) / n` text reproduces it
    * bit-for-bit (the LinearModel discipline). */
  def forestMean(trees: Array[Tree], x: Array[Double], c: Int): Double = {
    var acc = treeEval(trees(0), x, c)
    var i = 1
    while (i < trees.length) { acc += treeEval(trees(i), x, c); i += 1 }
    acc / trees.length
  }

  /** numpy argmax: the first i with p_i >= every later p_j. `>=` is
    * the engines' double order, in which NaN sits above every value. */
  def firstMax(p: Array[Double]): Int = {
    def ge(a: Double, b: Double) = a >= b || a.isNaN
    var i = 0
    while (i < p.length - 1 && !(i + 1 until p.length).forall(j => ge(p(i), p(j)))) i += 1
    i
  }

  /** A tree ensemble whose outputs [[ForestEval]] evaluates in-plan. */
  sealed trait Forest extends Serializable {
    def trees: Array[Tree]
    /** Output `out` for one feature row (see [[ForestEval]]). */
    def output(x: Array[Double], out: Int): Double
    protected def kernel(features: Seq[Column], out: Int): Column =
      GraftBridge.column(ForestEval(
        features.map(f => Cast(GraftBridge.expression(f), DoubleType)), this, out))
  }

  /** Forest regressor: mean of the trees' outputs ([[forestMean]]). */
  final case class ForestRegressorModel(trees: Array[Tree]) extends ColumnPredictor with Forest {
    require(trees.nonEmpty)
    override def predict(x: Array[Double]): Double = forestMean(trees, x, 0)
    override def output(x: Array[Double], out: Int): Double = predict(x)
    override def column(features: Seq[Column]): Column = kernel(features, 0)
    def sql(feats: Seq[String]): String =
      trees.toSeq.map(treeSql(_, feats, 0)).reduce((a, b) => s"($a + $b)") +
        s" / ${trees.length}.0"
  }

  /** Probability models that compile to Columns (codegen fast path in
    * [[predictProba]], like ColumnPredictor in [[predict]]). */
  trait ColumnProbPredictor extends ProbPredictor {
    def probColumns(features: Seq[Column]): Seq[Column]
  }

  /**
   * Forest classifier with sklearn semantics: `predict_proba` = mean of
   * the trees' leaf class distributions; `predict` = argmax with the
   * numpy first-max tie rule ([[firstMax]]). Both compile to
   * [[ForestEval]] calls (output `c` = class-c mean, [[ForestEval.Argmax]]
   * = the class); the SQL twins spell the same math as CASE text.
   */
  final case class ForestClassifierModel(trees: Array[Tree], numClasses: Int)
      extends ColumnProbPredictor with ColumnPredictor with Forest {
    require(trees.nonEmpty && numClasses >= 2)

    override def predictProba(x: Array[Double]): Array[Double] =
      Array.tabulate(numClasses)(forestMean(trees, x, _))
    override def predict(x: Array[Double]): Double = firstMax(predictProba(x)).toDouble
    override def output(x: Array[Double], out: Int): Double =
      if (out == ForestEval.Argmax) predict(x) else forestMean(trees, x, out)

    override def probColumns(features: Seq[Column]): Seq[Column] =
      (0 until numClasses).map(kernel(features, _))
    override def column(features: Seq[Column]): Column = kernel(features, ForestEval.Argmax)

    def probSql(feats: Seq[String], c: Int): String =
      trees.toSeq.map(treeSql(_, feats, c)).reduce((a, b) => s"($a + $b)") +
        s" / ${trees.length}.0"
    def predictSql(feats: Seq[String]): String = {
      val ps = (0 until numClasses).map(probSql(feats, _))
      def arg(i: Int): String =
        if (i == numClasses - 1) s"$i.0"
        else s"(CASE WHEN ${(i + 1 until numClasses).map(j => s"${ps(i)} >= ${ps(j)}").mkString(" AND ")} " +
          s"THEN $i.0 ELSE ${arg(i + 1)} END)"
      arg(0)
    }
  }

  /** `constants` semantics (_prediction.py:5-58). */
  def applyConstants(features: Seq[String], constantsList: Seq[Double] = Nil,
                     constantsMap: Map[String, Double] = Map.empty)
      : (Seq[String], Seq[Column]) = {
    constantsMap.keys.foreach { k =>
      require(features.contains(k), s"constants key '$k' is not a feature (=_prediction.py:39-46)")
    }
    val base = features.map(n => constantsMap.get(n).map(v => lit(v)).getOrElse(col(n)))
    val extraNames = constantsList.zipWithIndex.map { case (_, i) => s"const_$i" }
    (features ++ extraNames, base ++ constantsList.map(lit))
  }

  /**
   * The reference copies flat_pixels_mask BEFORE constants are stacked
   * (_prediction.py:94-104): the mask always comes from the ORIGINAL
   * raster features — a feature overridden by `constants` still masks
   * pixels where that raster layer was null.
   */
  private def maskAnyNull(features: Seq[String]): Column =
    features.map(col(_).isNull).reduce(_ || _)

  /**
   * predict(): one output layer `pred_raw_0` (naming: raster.py:1209-1211),
   * null where any input null.
   */
  def predict(df: DataFrame, features: Seq[String], model: Predictor,
              constantsList: Seq[Double] = Nil,
              constantsMap: Map[String, Double] = Map.empty): DataFrame = {
    val (_, cols) = applyConstants(features, constantsList, constantsMap)
    val scored = model match {
      case m: ColumnPredictor => m.column(cols)
      case m =>
        val u = udf((xs: Seq[Double]) => m.predict(xs.toArray))
        u(array(cols.map(c => coalesce(c, lit(0.0))): _*)) // masked inputs fill 0 like the reference (_prediction.py:94-104)
    }
    df.withColumn("pred_raw_0", when(maskAnyNull(features), lit(null)).otherwise(scored).cast("double"))
  }

  /** Multi-target scorer (reference multioutput regression, raster.py:1112-1130). */
  trait MultiPredictor extends Serializable {
    def numTargets: Int
    def predictMulti(features: Array[Double]): Array[Double]
  }

  /** One linear head per target — deterministic multi-target fixture. */
  final case class MultiLinearModel(heads: Array[LinearModel]) extends MultiPredictor {
    override def numTargets: Int = heads.length
    override def predictMulti(x: Array[Double]): Array[Double] = heads.map(_.predict(x))
  }

  /**
   * predict() with a multi-target estimator: n output layers
   * `pred_raw_0..n-1` (naming raster.py:1209-1211), same masking rule.
   */
  def predictMulti(df: DataFrame, features: Seq[String], model: MultiPredictor,
                   constantsList: Seq[Double] = Nil,
                   constantsMap: Map[String, Double] = Map.empty): DataFrame = {
    val (_, cols) = applyConstants(features, constantsList, constantsMap)
    val scored: Seq[Column] = model match {
      case MultiLinearModel(heads) => // codegen fast path: one Column per head
        heads.toSeq.map(_.column(cols))
      case m =>
        val u = udf((xs: Seq[Double]) => m.predictMulti(xs.toArray).toSeq)
        val arr = u(array(cols.map(c => coalesce(c, lit(0.0))): _*))
        (0 until m.numTargets).map(i => element_at(arr, i + 1))
    }
    scored.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      d.withColumn(s"pred_raw_$i", when(maskAnyNull(features), lit(null)).otherwise(c).cast("double"))
    }
  }

  /** predict_proba(): k probability layers `prob_0..k-1` (raster.py:1015-1025). */
  def predictProba(df: DataFrame, features: Seq[String], model: ProbPredictor,
                   indexes: Seq[Int] = Nil): DataFrame = {
    val (_, cols) = applyConstants(features)
    val classes = if (indexes.nonEmpty) indexes else 0 until model.numClasses
    model match {
      case m: ColumnProbPredictor => // codegen fast path (forests, squash)
        val ps = m.probColumns(cols)
        val mask = maskAnyNull(features)
        classes.foldLeft(df) { (d, i) =>
          d.withColumn(s"prob_$i", when(mask, lit(null)).otherwise(ps(i)).cast("double"))
        }
      case _ =>
        val u = udf((xs: Seq[Double]) => m2(model, xs))
        val withArr = df.withColumn("__p", when(maskAnyNull(features), lit(null))
          .otherwise(u(array(cols.map(c => coalesce(c, lit(0.0))): _*))))
        classes.foldLeft(withArr) { (d, i) =>
          d.withColumn(s"prob_$i", element_at(col("__p"), i + 1))
        }.drop("__p")
    }
  }
  private def m2(model: ProbPredictor, xs: Seq[Double]): Seq[Double] =
    model.predictProba(xs.toArray).toSeq

  /**
   * apply(fn): arbitrary per-pixel function of the layers -> n output
   * columns (reference Raster.apply, raster.py:1981-2102). Spark-first:
   * outputs are DECLARED (name -> Column), not probed from a test block —
   * the codegen-friendly analogue of the reference's schema-probing.
   */
  def applyColumns(df: DataFrame, outputs: Seq[(String, Column)], maskOn: Seq[String]): DataFrame = {
    val m = maskAnyNull(maskOn)
    outputs.foldLeft(df) { case (d, (n, c)) =>
      d.withColumn(n, when(m, lit(null)).otherwise(c).cast("double"))
    }
  }

  /**
   * A materialized batch of pixels for BLACK-BOX batch models — the Spark
   * analogue of the reference's flattened (bands, h·w) block array
   * (raster.py:1981-2102): parallel arrays, one inner array per feature,
   * masked (null) inputs as NaN (the reference's masked fill).
   */
  final case class PixelBatch(rows: Array[Long], cols: Array[Long],
                              features: Array[Array[Double]]) {
    def size: Int = rows.length
  }

  /**
   * apply(fn) over batch iterators — the black-box form of the
   * reference's Raster.apply block function: per partition, pixels pack
   * into PixelBatches of `batchSize` rows and the user function emits
   * Encoder-typed results. One mapPartitions pass, no shuffle, batch
   * shape independent of partitioning. Prefer [[applyColumns]] whenever
   * the outputs are expressible as Columns (whole-stage codegen).
   */
  def applyBatch[T](df: DataFrame, features: Seq[String], batchSize: Int)
                   (fn: PixelBatch => Iterator[T])
                   (implicit enc: org.apache.spark.sql.Encoder[T]): org.apache.spark.sql.Dataset[T] = {
    val sel = df.select((Seq("row", "col") ++ features).map(col): _*)
    val nf = features.length
    sel.mapPartitions { it =>
      it.grouped(batchSize).flatMap { chunk =>
        val n = chunk.size
        val rows = new Array[Long](n); val cols = new Array[Long](n)
        val feats = Array.ofDim[Double](nf, n)
        var i = 0
        chunk.foreach { r =>
          rows(i) = r.getLong(0); cols(i) = r.getLong(1)
          var j = 0
          while (j < nf) {
            feats(j)(i) = if (r.isNullAt(j + 2)) Double.NaN else r.getDouble(j + 2)
            j += 1
          }
          i += 1
        }
        fn(PixelBatch(rows, cols, feats))
      }
    }
  }

  /**
   * Fitted feature transformer for `alter` (reference raster.py:2617-2676
   * applies a FITTED sklearn transformer to the layer matrix): maps the
   * ordered layer columns to transformed Columns — the declared-Column
   * (codegen) shape. Black-box transformers go through [[applyBatch]].
   */
  trait FittedTransformer extends Serializable {
    def columns(layers: Seq[Column]): Seq[Column]
  }

  /** Fitted standard scaler: (x - mean_i) / std_i per layer. */
  final case class FittedStandardScaler(means: Array[Double], stds: Array[Double])
      extends FittedTransformer {
    override def columns(layers: Seq[Column]): Seq[Column] =
      layers.zipWithIndex.map { case (c, i) => (c - lit(means(i))) / lit(stds(i)) }
  }

  /**
   * alter(transformer): every layer rewritten in place, names preserved
   * (raster.py:2617-2676). A single select so cross-referencing
   * transformers always read the ORIGINAL layer values.
   */
  def alter(stack: Stack, t: FittedTransformer): Stack = {
    val outs = t.columns(stack.layers.map(col))
    require(outs.length == stack.layers.length,
      s"transformer returned ${outs.length} columns for ${stack.layers.length} layers")
    val proj = Seq(col("row"), col("col")) ++
      stack.layers.zip(outs).map { case (n, c) => c.cast("double").as(n) }
    stack.copy(df = stack.df.select(proj: _*))
  }
}

/**
 * One output of a tree ensemble as a single codegen'd expression:
 * `out` >= 0 is the mean of leaf column `out` (the regressor's value,
 * a classifier's class-`out` probability), [[ForestEval.Argmax]] the
 * classifier's first-max class. The body is the scalar twin
 * (`Forest.output`: [[Predict.treeEval]], [[Predict.forestMean]],
 * [[Predict.firstMax]]), so engine and `predict` run the same math.
 * A NULL feature enters as NaN and takes the hi branch, as `NULL <= th`
 * does in the SQL twin's CASE; the result is never NULL.
 *
 * WHY a kernel: frozen trees inlined as nested CASE Columns gave q81 a
 * 36 KB generated method, past HotSpot's 8,000-byte huge-method limit,
 * so the JIT never compiled it and every pixel ran interpreted. Here the
 * model ships as a plan reference object (the [[PipWinner]] pattern) and
 * the generated code only fills a per-instance feature buffer.
 */
case class ForestEval(children: Seq[Expression], forest: Predict.Forest, out: Int)
    extends Expression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "forest_eval"
  // the model prints as its size, not as array identity hashes
  override protected def stringArgs: Iterator[Any] =
    Iterator(children, s"${forest.trees.length} trees", out)

  def compute(x: Array[Double]): Double = forest.output(x, out)

  override def eval(input: InternalRow): Any = {
    val x = new Array[Double](children.length)
    var i = 0
    while (i < x.length) {
      val v = children(i).eval(input)
      x(i) = if (v == null) Double.NaN else v.asInstanceOf[Double]
      i += 1
    }
    compute(x)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("forestEval", this, classOf[ForestEval].getName)
    val x = ctx.addMutableState("double[]", "forestX",
      v => s"$v = new double[${children.length}];")
    val fill = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      s"${e.code}\n$x[$i] = ${e.isNull} ? Double.NaN : ${e.value};"
    }.mkString("\n")
    ev.copy(code = code"""
      $fill
      double ${ev.value} = $ref.compute($x);""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

object ForestEval {
  /** `out` code of a classifier's predicted class. */
  val Argmax: Int = -1
}

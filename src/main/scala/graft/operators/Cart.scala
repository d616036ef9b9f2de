package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Predict.{Leaf, Split, Tree}

/**
 * Deterministic CART / random-forest trainer — the estimator family the
 * reference actually runs through predict/predict_proba
 * (tests/test_prediction.py trains RandomForestClassifier/Regressor,
 * 50 trees, then `stack.predict(estimator)`).
 *
 * TRAINING IS DRIVER-SIDE BY DESIGN, exactly like the reference's own
 * workflow: pyspatialml extracts a bounded sample (`extract_vector` /
 * `extract_raster`) and fits sklearn on the driver; prediction over the
 * full raster is the distributed part. [[fitForestFrom]] mirrors that —
 * it collects a DETERMINISTIC bounded sample (smallest `sampleCap` rows
 * by seeded [[graft.functions.sample_hash]], the trainCentroids
 * collect-bound discipline) and fits locally; the resulting frozen
 * [[Predict.Tree]] models then score in-plan through the codegen'd
 * [[ForestEval]] kernel, which scales to any raster size.
 *
 * Determinism: bootstrap resampling and per-node feature subsampling
 * draw from a splitmix-style LCG seeded by (seed, tree); candidate
 * split thresholds are midpoints of stride-picked sorted distinct
 * values; ties break on (impurity, feature, threshold). Identical
 * inputs always yield the identical forest — which is what lets the
 * DuckDB oracle share the frozen tree text.
 */
object Cart {

  /** sklearn-style split config. `mtry` = features tried per node
    * (sklearn max_features): regressors default to all, classifiers to
    * ~sqrt(p). */
  final case class Config(nTrees: Int, maxDepth: Int, minLeaf: Int,
                          mtry: Int, seed: Long, maxCandidates: Int = 16)

  private final class Rng(var s: Long) {
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    /** uniform in [0, n) */
    def nextInt(n: Int): Int = (((next() >>> 33) % n).toInt + n) % n
  }

  /** Fit a regression forest: leaves carry Array(mean target). */
  def fitRegressionForest(xs: Array[Array[Double]], ys: Array[Double],
                          cfg: Config): Predict.ForestRegressorModel = {
    val leafOf = (idx: Array[Int]) => Array(idx.map(ys).sum / idx.length)
    // SSE of the node under its mean: sum(y^2) - n*mean^2
    val impurity = (idx: Array[Int]) => {
      val n = idx.length
      var s = 0.0; var s2 = 0.0
      idx.foreach { i => s += ys(i); s2 += ys(i) * ys(i) }
      s2 - s * s / n
    }
    Predict.ForestRegressorModel(forest(xs, cfg, leafOf, impurity))
  }

  /** Fit a classification forest: ys are class ids 0..k-1; leaves carry
    * the class distribution (counts / n, k frozen doubles). */
  def fitClassificationForest(xs: Array[Array[Double]], ys: Array[Int], k: Int,
                              cfg: Config): Predict.ForestClassifierModel = {
    val leafOf = (idx: Array[Int]) => {
      val c = new Array[Double](k)
      idx.foreach(i => c(ys(i)) += 1.0)
      c.map(_ / idx.length)
    }
    // Gini impurity scaled by n: n * (1 - sum p_c^2)
    val impurity = (idx: Array[Int]) => {
      val c = new Array[Double](k)
      idx.foreach(i => c(ys(i)) += 1.0)
      val n = idx.length.toDouble
      n * (1.0 - c.map(x => (x / n) * (x / n)).sum)
    }
    Predict.ForestClassifierModel(forest(xs, cfg, leafOf, impurity), k)
  }

  private def forest(xs: Array[Array[Double]], cfg: Config,
                     leafOf: Array[Int] => Array[Double],
                     impurity: Array[Int] => Double): Array[Tree] = {
    val p = xs.head.length
    Array.tabulate(cfg.nTrees) { t =>
      val rng = new Rng(cfg.seed * 0x9E3779B97F4A7C15L + (t + 1) * 0xBF58476D1CE4E5B9L)
      val boot = Array.fill(xs.length)(rng.nextInt(xs.length)) // bootstrap, with replacement
      grow(xs, boot, p, cfg, rng, leafOf, impurity, depth = 0)
    }
  }

  private def grow(xs: Array[Array[Double]], idx: Array[Int], p: Int, cfg: Config,
                   rng: Rng, leafOf: Array[Int] => Array[Double],
                   impurity: Array[Int] => Double, depth: Int): Tree = {
    if (depth >= cfg.maxDepth || idx.length < 2 * cfg.minLeaf || impurity(idx) <= 1e-12)
      return Leaf(leafOf(idx))
    // per-node feature subsample (sklearn max_features): Fisher-Yates
    // prefix of the feature ids
    val feats = Array.tabulate(p)(identity)
    var i = 0
    while (i < math.min(cfg.mtry, p)) {
      val j = i + rng.nextInt(p - i)
      val tmp = feats(i); feats(i) = feats(j); feats(j) = tmp
      i += 1
    }
    var best: Option[(Double, Int, Double)] = None // (impurity, feature, thresh)
    feats.take(math.min(cfg.mtry, p)).sorted.foreach { f =>
      val distinct = idx.map(xs(_)(f)).distinct.sorted
      if (distinct.length >= 2) {
        val mids = (0 until distinct.length - 1).map(i => (distinct(i) + distinct(i + 1)) / 2.0)
        val cand =
          if (mids.length <= cfg.maxCandidates) mids
          else (0 until cfg.maxCandidates).map(i => mids(i * mids.length / cfg.maxCandidates))
        cand.foreach { th =>
          val lo = idx.filter(xs(_)(f) <= th)
          if (lo.length >= cfg.minLeaf && idx.length - lo.length >= cfg.minLeaf) {
            val hi = idx.filter(xs(_)(f) > th)
            val s = impurity(lo) + impurity(hi)
            if (best.forall { case (bs, bf, bt) =>
                  s < bs || (s == bs && (f < bf || (f == bf && th < bt))) })
              best = Some((s, f, th))
          }
        }
      }
    }
    best match {
      case None => Leaf(leafOf(idx))
      case Some((_, f, th)) =>
        Split(f, th,
          grow(xs, idx.filter(xs(_)(f) <= th), p, cfg, rng, leafOf, impurity, depth + 1),
          grow(xs, idx.filter(xs(_)(f) > th), p, cfg, rng, leafOf, impurity, depth + 1))
    }
  }

  /**
   * The Spark-facing fit: collect a DETERMINISTIC bounded sample
   * (smallest `sampleCap` rows of seeded sample_hash over `keyCol` —
   * order-free, any partitioning) with all features + target non-null,
   * and fit the regression forest on the driver. The reference's
   * extract-then-sklearn-fit loop, with the collect explicitly bounded.
   */
  def fitForestFrom(df: DataFrame, features: Seq[String], target: String,
                    keyCol: org.apache.spark.sql.Column, sampleCap: Int,
                    cfg: Config): Predict.ForestRegressorModel = {
    val rows = df
      .where((features :+ target).map(col(_).isNotNull).reduce(_ && _))
      .orderBy(graft.functions.sample_hash(keyCol, cfg.seed), keyCol)
      .limit(sampleCap)
      .select((features :+ target).map(col): _*)
      .collect()
    val xs = rows.map(r => Array.tabulate(features.length)(i => r.getDouble(i)))
    val ys = rows.map(_.getDouble(features.length))
    fitRegressionForest(xs, ys, cfg)
  }
}

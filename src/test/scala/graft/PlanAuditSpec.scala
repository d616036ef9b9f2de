package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * PLAN-SHAPE regression audit (the round-4 rewrites, promoted from an
 * ad-hoc printer to failing tests): every top-k path must stay a
 * bounded-heap ObjectHashAggregate — reintroducing a rank window (or a
 * cartesian/nested-loop join) in any of these operators fails here.
 * IOSpec separately asserts the zero-Exchange bucketed-join layouts.
 */
class PlanAuditSpec extends AnyFunSuite with SparkSpec {

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def assertShape(name: String, df: DataFrame,
                          mustContain: Seq[String] = Nil,
                          mustNotContain: Seq[String] = Seq(
                            "Window", "CartesianProduct", "BroadcastNestedLoopJoin")): Unit = {
    val plan = planOf(df)
    mustNotContain.foreach(bad =>
      assert(!plan.contains(bad), s"$name: plan regressed — contains $bad\n$plan"))
    mustContain.foreach(good =>
      assert(plan.contains(good), s"$name: plan lost $good\n$plan"))
  }

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val pages = graft.sources.Pages.withIdPoint(
    graft.sources.Pages.fromDocuments(spark, "/root/testdata/sf0.001"), "doc_id")

  test("kNN join: bounded-heap top_k aggregate, no rank window, no cross join") {
    assertShape("knn", graft.operators.KNN.join(
      pages.select(col("doc_id").as("pid"), col("lon").as("plon"), col("lat").as("plat")),
      "pid", "plon", "plat",
      pages.where(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("tid"), col("lon").as("tlon"), col("lat").as("tlat")),
      "tlon", "tlat", "tid", 5, 4),
      mustContain = Seq("ObjectHashAggregate"))
    graft.plans.Caches.flush()
  }

  test("ANN LSH: top_k aggregate + native kernels, no window, no cross join") {
    assertShape("ann_lsh", graft.operators.Similarity.lshTopK(
      vecs, "vec_id", "embedding", col("vec_id") % 25 === 0, 10, 4, 64, 3),
      mustContain = Seq("ObjectHashAggregate"))
    graft.plans.Caches.flush()
  }

  test("sampleStrata: single top_k aggregate, no threshold/window machinery") {
    assertShape("sample_strata", graft.queries.StackQueries.stack(spark)
      .sampleStrata(graft.sources.RasterStack.strata(spark, graft.core.GridMeta.TestGrid), 20, 11),
      mustContain = Seq("ObjectHashAggregate"))
  }

  test("jaccardPairs: band-join candidates, no window, no cross join") {
    assertShape("jaccard", graft.operators.Dedup.jaccardPairs(
      docs.select("doc_id", "text"), "doc_id", "text", threshold = 0.4))
    graft.plans.Caches.flush()
  }

  test("pipJoinTableRings: cell-keyed equi-join, no broadcast nested loop") {
    import spark.implicits._
    val polys = Seq((1, Seq(Seq(-60.0, 40.0, 40.0, -60.0)), Seq(Seq(-40.0, -40.0, 40.0, 40.0))))
      .toDF("poly_id", "xss", "yss")
    assertShape("pip_rings",
      graft.operators.SpatialJoin.pipJoinTableRings(pages, "lon", "lat", polys, "poly_id", 4))
  }

  test("IVF-PQ: codes-only candidate join, top_k aggregate, no cross join") {
    // the bounded probe-list Window (nCentroids rows/query) is allowed —
    // assert only against cartesian/nested-loop regressions + the agg
    assertShape("ivfpq", graft.operators.Similarity.ivfPqTopKWith(
      vecs, "vec_id", "embedding", col("vec_id") % 25 === 0,
      10, 16, 4, 64, graft.queries.TrainedPq.Codebooks),
      mustContain = Seq("ObjectHashAggregate"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
    graft.plans.Caches.flush()
  }

  test("polyTable rasterize: hash-agg burn, no cartesian join") {
    import spark.implicits._
    val rings = Seq((1, Seq(Seq(-50.0, 40.0, 40.0, -50.0, -50.0)),
      Seq(Seq(-30.0, -30.0, 30.0, 30.0, -30.0)))).toDF("poly_id", "xss", "yss")
    assertShape("poly_table", graft.operators.Rasterize.polyTable(
      rings, graft.core.GridMeta.TestGrid),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window"))
  }

  test("warp mode: top_k winner aggregate, no rank window") {
    val st = graft.queries.StackQueries.stack(spark).select(Seq("b1"))
    assertShape("warp_mode", graft.operators.Warp.mode(st,
      graft.queries.GeoQueries.TargetG, graft.operators.Warp.Identity).df,
      mustContain = Seq("ObjectHashAggregate"))
    graft.plans.Caches.flush()
  }

  test("tfidf: bounded-heap top_k ranking, no rank window, no row-level cross join") {
    // the corpus count now rides the DAG as a SINGLE-ROW broadcast
    // (replacing a separate eager count() job), which plans as a
    // BroadcastNestedLoopJoin over one aggregate row — allowed here and
    // only here; a row-level cartesian is still forbidden
    assertShape("tfidf", graft.operators.TextAnalysis.tfidfTopK(
      docs.select("doc_id", "text"), "doc_id", "text", k = 3),
      mustContain = Seq("ObjectHashAggregate"),
      mustNotContain = Seq("Window", "CartesianProduct"))
    // the explicit-count path keeps the join-free shape
    assertShape("tfidf_n", graft.operators.TextAnalysis.tfidfTopK(
      docs.select("doc_id", "text"), "doc_id", "text", k = 3,
      totalDocs = Some(100L)),
      mustContain = Seq("ObjectHashAggregate"))
    graft.plans.Caches.flush()
  }

  test("vocabTopK: bounded-heap ranking, no rank window, no join at all") {
    assertShape("vocab", graft.operators.TextAnalysis.vocabTopK(
      docs, "lang", "text", k = 10),
      mustContain = Seq("ObjectHashAggregate"),
      mustNotContain = Seq("Window", "CartesianProduct",
        "BroadcastNestedLoopJoin", "Join"))
  }

  test("bpePairCounts: vocab-scale pair explode, top_k agg, no window/join") {
    assertShape("bpe", graft.operators.TextAnalysis.bpePairCounts(
      docs, "text", k = 20),
      mustContain = Seq("ObjectHashAggregate"),
      mustNotContain = Seq("Window", "CartesianProduct",
        "BroadcastNestedLoopJoin", "Join"))
  }

  test("bigramScore: zip_with pair projection — equi-joins only, no window") {
    assertShape("bigram_lm", graft.operators.TextAnalysis.bigramScore(
      docs, "doc_id", "text"))
    graft.plans.Caches.flush()
  }

  test("sieve: lag-edge adjacency + top_k target pick, no rank window") {
    import spark.implicits._
    val g = graft.core.GridMeta.northUp(0.0, 0.0, 8.0, 8.0, width = 8, height = 8)
    val px = (for { r <- 0 until 8; c <- 0 until 8 }
      yield (r.toLong, c.toLong, (r / 2 + c / 3).toLong % 3)).toDF("row", "col", "cat")
    val labeled = graft.operators.Clump.clump(px, "cat", g)
    // lag windows ARE the adjacency design here — forbid only the
    // quadratic shapes
    assertShape("sieve", graft.operators.Clump.sieve(labeled, "cat", 4),
      mustContain = Seq("ObjectHashAggregate"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
  }

  test("hostStats: two-level exact distinct, no countDistinct Expand") {
    val withUrl = docs.withColumn("url",
      concat(lit("https://host-"), col("doc_id") % 97L, lit(".example/d/"), col("doc_id")))
    assertShape("host_stats", graft.operators.TextAnalysis.hostStats(
      withUrl, "url", "text"),
      mustNotContain = Seq("Expand", "Window", "CartesianProduct", "BroadcastNestedLoopJoin"))
  }

  test("hostCap: bounded-heap top_k per host, no rank window, no join") {
    val withUrl = docs.withColumn("url",
      concat(lit("https://host-"), col("doc_id") % 97L, lit(".example/d/"), col("doc_id")))
    assertShape("host_cap", graft.operators.TextAnalysis.hostCap(
      withUrl, "url", "doc_id", k = 3),
      mustContain = Seq("ObjectHashAggregate"),
      mustNotContain = Seq("Window", "CartesianProduct",
        "BroadcastNestedLoopJoin", "Join"))
  }

  test("removeBoilerplateLines: AQE broadcasts the small ban into a left-anti join, no Expand") {
    val multi = docs.withColumn("text",
      concat(col("text"), lit("\nfooter line")))
    val df = graft.operators.TextAnalysis.removeBoilerplateLines(
      multi, "doc_id", "text", maxDocs = 50)
    // no broadcast() HINT on the operator (an unbounded ban set must be
    // allowed to degrade to a shuffle join) — so execute and read the
    // AQE-final plan: at this size the runtime stats broadcast it
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      "small banned-line set should AQE-broadcast into a left-anti join:\n" +
        plan.take(800))
    assert(!plan.contains("Expand") && !plan.contains("CartesianProduct"),
      plan.take(800))
    graft.plans.Caches.flush()
  }

  test("canonicalUrl: pure projection — no shuffle at all") {
    val withUrl = docs.select(concat(lit("https://WWW.Example.com:443/p/"),
      col("doc_id"), lit("?b=2&a=1#f")).as("url"))
    val df = withUrl.select(
      graft.operators.TextAnalysis.canonicalUrl(col("url")).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "canonicalUrl must not shuffle:\n" + plan.take(600))
  }

  test("no generated method past HotSpot's huge-method limit (D8 argmax, forest kernels)") {
    // the JIT never compiles a method of 8,000+ bytecode bytes, so every
    // row through it runs interpreted: the inline D8 fold (q118/q121/
    // q128) and nested-CASE forests (q80/q81) generated 9.9-36.7 KB ones
    import graft.tools.CodegenSweep.{HugeMethodLimit, codegenStages, maxMethodBytes}
    val huge = Seq("q80_predict_forest", "q81_forest_proba", "q118_d8_flowdir",
        "q121_watershed", "q128_flow_accum").flatMap { q =>
      val df = graft.SparkEntry.queries(q)(spark, sf(q))
      df.collect()
      val stages = codegenStages(df.queryExecution.executedPlan)
      assert(stages.nonEmpty, q)
      val sized = stages.map(st => (maxMethodBytes(st), st))
      graft.plans.Caches.flush()
      sized.collect { case (bytes, st) if bytes >= HugeMethodLimit =>
        s"$q: a generated method is $bytes bytes in\n${st.treeString.take(600)}" }
    }
    assert(huge.isEmpty, huge.mkString("\n"))
  }

  test("contour: two window shuffles + explode, no join, no cartesian") {
    import spark.implicits._
    val px = (for { r <- 0 until 8; c <- 0 until 8 }
      yield (r.toLong, c.toLong, ((r * 7 + c * 13) % 31).toDouble)).toDF("row", "col", "b1")
    val df = graft.operators.Contour.segments(px, "b1", level = 15.5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan.take(400))
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      "contour must not plan a join:\n" + plan.take(800))
  }
}

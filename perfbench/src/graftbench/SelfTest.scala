package graftbench

import org.apache.spark.sql.functions.col

/**
 * `--selftest`: the benchmark's own invariants, checked without a timed run.
 *  - every catalog query maps to exactly one family, every timed query has a golden;
 *  - the timed action keeps the kernels a `.count()` would prune: q03's plan
 *    keeps `md5`, q02's keeps `pip_winner`, q108's keeps its haversine
 *    (SIN/SQRT/ATAN). (q03 itself never outputs `poly_id`, so no action that
 *    reads its output can keep q03's `pip_winner`.)
 * Exit code 0 when all hold.
 */
object SelfTest {
  def run(): Int = {
    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = {
      println((if (ok) "ok   " else "FAIL ") + what)
      if (!ok) fails += what
    }
    val catalog = graft.SparkEntry.queries.keySet
    val prefixes = catalog.map(_.takeWhile(_ != '_'))
    expect(catalog.size == 128, s"catalog has 128 queries (found ${catalog.size})")
    expect(prefixes.size == catalog.size, "query number prefixes are unique")
    expect(QueryLoop.FamilyOf.keySet == prefixes,
      s"family table covers exactly the catalog (missing ${prefixes -- QueryLoop.FamilyOf.keySet}, " +
        s"extra ${QueryLoop.FamilyOf.keySet -- prefixes})")
    expect(QueryLoop.Timed.size == QueryLoop.Size && QueryLoop.Timed.forall(catalog.contains),
      s"the ${QueryLoop.Size} timed queries are catalog queries")
    println("     timed by family: " + QueryLoop.Timed.groupBy(QueryLoop.family).toSeq.sortBy(_._1)
      .map { case (f, q) => s"$f ${q.size}" }.mkString(", ") + ": " + QueryLoop.Timed.mkString(" "))
    expect(Layers.opQueries.values.forall(QueryLoop.Timed.contains), "each operator query is timed")
    val goldens = QueryLoop.readGoldens()
    expect(QueryLoop.Timed.forall(goldens.contains), "every timed query has a golden")
    expect(Layers.names.map(_._1).distinct.size == Layers.names.size, "per-layer metric names are unique")
    // BENCHMARK.json must list exactly the metrics the runs print, with the same units
    val spec = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("BENCHMARK.json")), "UTF-8")
    val listed = """\{"name": "([^"]+)", "unit": "([^"]+)", "better"""".r.findAllMatchIn(spec).map(m => m.group(1) -> m.group(2)).toSeq
    expect(listed == Runner.EndToEnd ++ Layers.names, "BENCHMARK.json lists the printed metrics, in order, with their units")

    val spark = Main.session()
    val dir = QueryLoop.fixture(spark)
    def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)
    def countPlan(df: org.apache.spark.sql.DataFrame) = df.groupBy().count().queryExecution.optimizedPlan.toString
    val q03 = Main.timedPlan(q("q03_text_invariant")).toLowerCase
    expect(q03.contains("md5("), "q03 timed plan keeps md5")
    println(s"     (under count(): md5 ${if (countPlan(q("q03_text_invariant")).contains("md5(")) "kept" else "pruned"}; " +
      "q03 does not output poly_id, so its own plan already drops pip_winner)")
    val q02 = Main.timedPlan(q("q02_pip_assign")).toLowerCase
    expect(q02.contains("pip_winner("), "q02 timed plan keeps pip_winner")
    println(s"     (under count(): pip_winner ${if (countPlan(q("q02_pip_assign")).contains("pip_winner(")) "kept" else "pruned"})")
    val q108 = Main.timedPlan(q("q108_haversine")).toUpperCase
    expect(Seq("SIN(", "SQRT(", "ATAN(").forall(q108.contains), "q108 timed plan keeps the haversine (SIN, SQRT, ATAN)")
    val q108count = countPlan(q("q108_haversine")).toUpperCase
    println(s"     (under count(): haversine ${if (q108count.contains("SIN(")) "kept" else "pruned"})")
    // the fold reads every column: its row count equals count() and it changes when a value does
    val df = q("q02_pip_assign")
    val f = Main.fold(df)
    expect(f.rows == df.count(), "fold row count equals count()")
    expect(Main.fold(df.withColumn("poly_id", col("poly_id") + 1)) != f, "fold changes when one column changes")
    Main.close(spark)
    if (fails.isEmpty) { println("SELFTEST PASS"); 0 } else { println(s"SELFTEST FAIL (${fails.size})"); 1 }
  }
}

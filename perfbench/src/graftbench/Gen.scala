package graftbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Polygon, PolygonSet}

/**
 * Seeded input generators. Every input the program sees is a function of
 * (generator version, seed, size); generated tables are cached on disk
 * under a key hashed from exactly those three, so a changed generator, seed
 * or size can never be served a stale table (a `_SUCCESS` marker alone
 * would not tell them apart).
 */
object Gen {
  /** Bump whenever any generator below changes its output. */
  val Version = "gen-v1"

  def key(kind: String, seed: Long, size: String): String = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$Version|$kind|$seed|$size".getBytes("UTF-8"))
    kind + "-" + h.take(8).map("%02x".format(_)).mkString
  }

  /**
   * Returns `<root>/<key>`, writing it with `write` first unless a complete
   * copy exists. Keeps at most `keep` cached tables per kind.
   */
  def cached(root: String, kind: String, seed: Long, size: String, keep: Int = 2)
            (write: String => Unit): String = {
    val dir = new File(root, key(kind, seed, size))
    val done = new File(dir, "_GEN_COMPLETE")
    if (!done.exists()) {
      val old = Option(new File(root).listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName.startsWith(kind + "-") && f != dir)
        .sortBy(_.lastModified())
      old.dropRight(keep - 1).foreach(deleteTree)
      deleteTree(dir)
      write(dir.getPath)
      java.nio.file.Files.write(done.toPath, s"$Version|$kind|$seed|$size".getBytes("UTF-8"))
    }
    dir.setLastModified(System.currentTimeMillis())
    dir.getPath
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private val Words: Array[String] = Array(
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "join", "data", "column", "batch", "window", "spark", "order",
    "small", "filter", "the", "index", "cell", "tile", "point", "layer",
    "stream", "merge", "query", "group", "sort", "line", "vector", "a", "big")
  val Langs: Seq[String] = Seq("en", "de", "fr", "es", "it", "pt", "nl", "zh")

  private def sentence(r: SplittableRandom, nMin: Int, nMax: Int, vocab: Array[String]): String =
    Array.fill(nMin + r.nextInt(nMax - nMin + 1))(vocab(r.nextInt(vocab.length))).mkString(" ")

  /**
   * Common-Crawl-shaped pages `(id, url, warc_ts, html, text, lang)`: `n`
   * rows in `parts` files. Urls are unique; the url's hash (and so the
   * page's point) and the text depend on the seed.
   */
  def pages(spark: SparkSession, path: String, n: Long, seed: Long, parts: Int): Unit = {
    val r = new SplittableRandom(seed)
    val sentences = Array.fill(4096)(sentence(r, 4, 10, Words))
    val k = xxhash64(col("id"), lit(seed))
    spark.range(0, n, 1, parts)
      .withColumn("k", k)
      .withColumn("url", concat(lit("https://host-"), pmod(col("k"), lit(997L)),
        lit(".example/p/"), col("id"), lit("/"), hex(col("k"))))
      .withColumn("warc_ts", timestamp_seconds(lit(1577836800L) + pmod(col("k"), lit(31536000L))))
      .withColumn("text", concat(
        element_at(typedLit(sentences.toSeq), (pmod(shiftright(col("k"), 12), lit(4096L)) + 1).cast("int")),
        lit(" #"), col("id")))
      .withColumn("html", encode(concat(lit("<html><body>"), col("text"), lit("</body></html>")), "UTF-8"))
      .withColumn("lang", element_at(typedLit(Langs), (pmod(shiftright(col("k"), 24), lit(Langs.size.toLong)) + 1).cast("int")))
      .select("id", "url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(path)
  }

  /**
   * `n` star-shaped polygons spread over the globe, ids 0..n-1, every third
   * one with a hole; neighbours overlap, so last-wins assignment matters.
   */
  def polygons(n: Int, seed: Long): PolygonSet = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    PolygonSet((0 until n).map { id =>
      val cx = -176.0 + 352.0 * r.nextDouble()
      val cy = -82.0 + 164.0 * r.nextDouble()
      val rad = 0.6 + 1.8 * r.nextDouble()
      val k = 6 + r.nextInt(9)
      def ring(scale: Double, jitter: Double): Array[(Double, Double)] =
        Array.tabulate(k) { i =>
          val a = 2 * math.Pi * (i + 0.4 * r.nextDouble()) / k
          val rr = rad * scale * (1.0 - jitter * r.nextDouble())
          (cx + rr * math.cos(a), cy + rr * math.sin(a))
        }
      val shell = ring(1.0, 0.4) // radii in [0.6, 1.0] * rad
      val holes = if (id % 3 == 0) Array(ring(0.35, 0.3)) else Array.empty[Array[(Double, Double)]]
      Polygon(id, shell, holes)
    })
  }

  /** Independent even-odd test (holes subtract) for the brute-force check. */
  def inside(p: Polygon, x: Double, y: Double): Boolean = {
    def ring(pts: Array[(Double, Double)]): Boolean = {
      var in = false
      var j = pts.length - 1
      for (i <- pts.indices) {
        val (xi, yi) = pts(i); val (xj, yj) = pts(j)
        if ((yi > y) != (yj > y) && x < (xj - xi) * (y - yi) / (yj - yi) + xi) in = !in
        j = i
      }
      in
    }
    (Iterator(p.shell) ++ p.holes.iterator).count(ring) % 2 == 1
  }

  /** Last-wins winner by scanning every polygon: max containing id, or -1. */
  def bruteWinner(ps: PolygonSet, x: Double, y: Double): Int =
    ps.polys.iterator.filter(p => inside(p, x, y)).map(_.id).foldLeft(-1)(math.max)

  // ---- query_loop fixture: the table shapes the catalog reads ----

  /** `documents(doc_id, text, lang, source, n_chars)` and
    * `events(event_id, ts, user_id, event_type, value, props)` parquet. */
  def queryFixture(spark: SparkSession, dir: String, seed: Long, nDocs: Int, nEvents: Int): Unit = {
    val r = new SplittableRandom(seed)
    val docs = (0 until nDocs).map { i =>
      val t = sentence(r, 12, 60, Words)
      Row6(i.toLong, t, Seq("en", "de", "fr", "es", "zh", "ja")(r.nextInt(6)), s"src${r.nextInt(10)}", t.length.toLong)
    }
    import spark.implicits._
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t0 = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    val types = Seq("view", "click", "purchase", "error", "share")
    val evs = (0 until nEvents).map { i =>
      Ev(i.toLong, t0 + (i.toLong * 25920000L) + r.nextLong(25920000L), r.nextInt(2000).toLong,
        types(r.nextInt(types.size)), math.round(r.nextDouble() * 50000.0) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
    evs.toDF().withColumn("ts", timestamp_micros(col("ts")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }
}

final case class Row6(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class Ev(event_id: Long, ts: Long, user_id: Long, event_type: String, value: Double, props: String)

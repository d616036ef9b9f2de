package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions

/**
 * The CRS kernels' arithmetic typeclass [[Utm.Ar]] plus the UTM zone
 * system (EPSG:326xx / 327xx — the most common real-world `to_crs`
 * targets the reference reaches through pyproj, raster.py:1711-1866;
 * tests/test_tocrs.py:22-37). A UTM zone is a parameter set of the
 * generic transverse-Mercator kernel ([[Tmerc]], the public Krüger
 * series on WGS84): [[Utm.params]].
 *
 * ORACLE DISCIPLINE: every closed-form transform is written ONCE over
 * [[Utm.Ar]] and instantiated as [[Double]]s (the engine kernel
 * [[CrsPoint]] and driver-side grid derivation), SQL TEXT (the DuckDB
 * twin), or Catalyst [[Column]]s (the light focal/geometry chains). The
 * Double kernel and the SQL string therefore have IDENTICAL operation
 * order by construction (the q52 shared-weight-text trick,
 * generalized), and every composite function is expressed in
 * primitives measured bit-identical across engines (+ - * /, EXP, LN,
 * ATAN, SIN, COS, SQRT):
 *   sinh u  = (e^u - e^-u) * 0.5
 *   cosh u  = (e^u + e^-u) * 0.5
 *   atanh z = 0.5 * ln((1+z)/(1-z))
 *   asin z  = atan(z / sqrt((1-z)(1+z)))
 * so no SINH/ASIN libm variance can leak in. Literal constants
 * interpolate through OracleLit.d (exact decimal->double round-trip).
 */
object Utm {

  /** Minimal field-of-operations abstraction (see class doc). `gt` is
    * the one conditional (if a > b then t else f): comparisons are
    * exact in IEEE, all three engines branch lazily, and composing it
    * yields atan2/wrap logic with identical text (PolarStereo).
    *
    * NaN: [[DblAr]] treats NaN as NOT greater (Java `>` is false), so a
    * NaN operand takes `ifFalse`; [[ColAr]] (Spark `GreaterThan`) and
    * [[SqlAr]] (DuckDB) order NaN above every number, so `a = NaN`
    * takes `ifTrue`. On NaN input the engine kernel and the SQL twin
    * can therefore take different branches (PolarStereo's atan2 and
    * longitude wrap); CrsRegistrySpec pins what the engine returns. */
  trait Ar[T] {
    def lit(d: Double): T
    def add(a: T, b: T): T; def sub(a: T, b: T): T
    def mul(a: T, b: T): T; def div(a: T, b: T): T
    def neg(a: T): T
    def sin(a: T): T; def cos(a: T): T; def atan(a: T): T
    def exp(a: T): T; def ln(a: T): T; def sqrt(a: T): T
    def gt(a: T, b: T, ifTrue: T, ifFalse: T): T
  }

  object ColAr extends Ar[Column] {
    def lit(d: Double): Column = functions.lit(d)
    def add(a: Column, b: Column): Column = a + b
    def sub(a: Column, b: Column): Column = a - b
    def mul(a: Column, b: Column): Column = a * b
    def div(a: Column, b: Column): Column = a / b
    def neg(a: Column): Column = -a
    def sin(a: Column): Column = functions.sin(a)
    def cos(a: Column): Column = functions.cos(a)
    def atan(a: Column): Column = functions.atan(a)
    def exp(a: Column): Column = functions.exp(a)
    def ln(a: Column): Column = functions.log(a)
    def sqrt(a: Column): Column = functions.sqrt(a)
    def gt(a: Column, b: Column, t: Column, f: Column): Column =
      functions.when(a > b, t).otherwise(f)
  }

  object DblAr extends Ar[Double] {
    def lit(d: Double): Double = d
    def add(a: Double, b: Double): Double = a + b
    def sub(a: Double, b: Double): Double = a - b
    def mul(a: Double, b: Double): Double = a * b
    def div(a: Double, b: Double): Double = a / b
    def neg(a: Double): Double = -a
    def sin(a: Double): Double = math.sin(a)
    def cos(a: Double): Double = math.cos(a)
    def atan(a: Double): Double = math.atan(a)
    def exp(a: Double): Double = math.exp(a)
    def ln(a: Double): Double = math.log(a)
    def sqrt(a: Double): Double = math.sqrt(a)
    def gt(a: Double, b: Double, t: Double, f: Double): Double = if (a > b) t else f
  }

  object SqlAr extends Ar[String] {
    def lit(d: Double): String = graft.sources.OracleLit.d(d)
    def add(a: String, b: String): String = s"($a + $b)"
    def sub(a: String, b: String): String = s"($a - $b)"
    def mul(a: String, b: String): String = s"($a * $b)"
    def div(a: String, b: String): String = s"($a / $b)"
    def neg(a: String): String = s"(-($a))"
    def sin(a: String): String = s"SIN($a)"
    def cos(a: String): String = s"COS($a)"
    def atan(a: String): String = s"ATAN($a)"
    def exp(a: String): String = s"EXP($a)"
    def ln(a: String): String = s"LN($a)"
    def sqrt(a: String): String = s"SQRT($a)"
    def gt(a: String, b: String, t: String, f: String): String =
      s"(CASE WHEN $a > $b THEN $t ELSE $f END)"
  }

  /** Central meridian of a UTM zone, degrees. */
  def lon0Deg(zone: Int): Double = { require(zone >= 1 && zone <= 60); zone * 6.0 - 183.0 }

  /** A UTM zone as generic-TM parameters: WGS84, natural origin on the
    * equator at the zone's central meridian, k0 = 0.9996, 500 km false
    * easting, 10,000 km false northing in the south. The natural origin
    * on the equator makes m0 exactly +0.0. */
  def params(zone: Int, north: Boolean): Tmerc.Params =
    Tmerc.Params(Tmerc.WGS84, lat0Deg = 0.0, lon0Deg = lon0Deg(zone),
      k0 = 0.9996, fe = 500000.0, fn = if (north) 0.0 else 10000000.0)
}

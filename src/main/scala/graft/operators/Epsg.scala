package graft.operators

/**
 * EPSG registry: dispatch an EPSG code's PARAMETER SET (proj=
 * merc/utm/tmerc/lcc/aea/stere + ellipsoid + origin + optional datum
 * shift) onto the existing generic kernels — the reference accepts ANY
 * pyproj CRS in `to_crs` (reference raster.py:1711-1866;
 * tests/test_tocrs.py:22-37), and this closes the long tail: a new
 * national grid is one data row here, not a new projection
 * implementation. No proj database exists offline; the entries are the
 * published EPSG parameter values (public registry data).
 *
 * `toLonLat(code)` returns the target->source [[Warp.CrsTransform]]
 * (projected meters back to WGS84 lon/lat degrees) — the direction
 * `Stack.toCrs` consumes; `.inverse` is the forward pooling direction.
 */
object Epsg {

  /** Parameter-set ADT — what an EPSG row IS, independent of kernels. */
  sealed trait Def
  case object LonLat extends Def
  case object WebMercator extends Def
  final case class UtmZone(zone: Int, north: Boolean) extends Def
  /** Transverse Mercator + optional Helmert to/from WGS84 (the datum
    * the lon/lat side of every transform here lives on). */
  final case class TM(p: Tmerc.Params, toWgs84: Option[Datum.Helmert]) extends Def
  final case class LCC(p: Lcc.Params) extends Def
  final case class AEA(p: Albers.Params) extends Def
  final case class PS(p: PolarStereo.Params) extends Def

  /** The registry rows (beyond the UTM zone ranges, which dispatch
    * arithmetically below). */
  val registry: Map[Int, Def] = Map(
    4326 -> LonLat,
    3857 -> WebMercator,
    2154 -> LCC(Lcc.Lambert93),
    5070 -> AEA(Albers.Conus),
    3413 -> PS(PolarStereo.Epsg3413),
    // British National Grid: tmerc on Airy 1830 + OSGB36 datum shift
    27700 -> TM(Tmerc.Osgb36NationalGrid, Some(Datum.Osgb36ToWgs84)),
    // NZTM2000: tmerc on GRS80; NZGD2000 is WGS84-equivalent (no shift)
    2193 -> TM(Tmerc.Nztm2000, None))

  private def lookup(code: Int): Def =
    if (code >= 32601 && code <= 32660) UtmZone(code - 32600, north = true)
    else if (code >= 32701 && code <= 32760) UtmZone(code - 32700, north = false)
    else registry.getOrElse(code,
      throw new IllegalArgumentException(s"EPSG:$code not in registry; " +
        s"known: UTM 326xx/327xx + ${registry.keys.toSeq.sorted.mkString(", ")}"))

  /** Projected meters -> WGS84 lon/lat (the warp's target->source). */
  def toLonLat(code: Int): Warp.CrsTransform = lookup(code) match {
    case LonLat => Warp.Identity
    case WebMercator => Warp.MercatorToLonLat
    case UtmZone(z, n) => Warp.UtmToLonLat(z, n)
    case TM(p, h) => Warp.TmercToLonLat(p, h, s"EPSG:$code")
    case LCC(p) => Warp.LccToLonLat(p, s"EPSG:$code")
    case AEA(p) => Warp.AlbersToLonLat(p, s"EPSG:$code")
    case PS(p) => Warp.PsToLonLat(p, s"EPSG:$code")
  }

  /** WGS84 lon/lat -> projected meters (forward / pooling direction). */
  def fromLonLat(code: Int): Warp.CrsTransform = toLonLat(code).inverse

  /** The generic-TM transforms, beside the other projections in [[Warp]]. */
  type TmercToLonLat = Warp.TmercToLonLat
  val TmercToLonLat: Warp.TmercToLonLat.type = Warp.TmercToLonLat
  type LonLatToTmerc = Warp.LonLatToTmerc
  val LonLatToTmerc: Warp.LonLatToTmerc.type = Warp.LonLatToTmerc
}

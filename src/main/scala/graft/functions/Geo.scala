package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial scalar functions.
  *
  * The reference computes witness-edge lengths with ArangoDB's
  * `GEO_DISTANCE(a, b)` (reference `src/arango_queries.py:152`) and converts
  * h3 cells to GeoJSON points with `h3.h3_to_geo` (reference
  * `src/blockchain_queries.py:124-128,149-152`). Haversine is pure column
  * arithmetic (stays inside whole-stage codegen — no UDF); cell decoding has
  * no Spark built-in and is isolated behind [[cellToPseudoLatLng]].
  */
object Geo {

  /** Mean Earth radius in meters (spherical model, same class of
    * approximation as Arango's GEO_DISTANCE haversine default).
    */
  val EarthRadiusM = 6371000.0

  /** Great-circle distance in meters between (lat1,lng1) and (lat2,lng2)
    * in degrees (F8). Composable built-ins only: codegen-friendly.
    */
  def haversineMeters(lat1: Column, lng1: Column, lat2: Column, lng2: Column): Column = {
    val dLat = radians(lat2 - lat1) / 2.0
    val dLng = radians(lng2 - lng1) / 2.0
    val a = pow(sin(dLat), 2.0) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLng), 2.0)
    lit(2.0 * EarthRadiusM) * asin(least(lit(1.0), sqrt(a)))
  }

  /** GeoJSON Point struct `{coordinates: [lng, lat], type: "Point"}` —
    * the hotspot `geo_location` shape (reference
    * `src/blockchain_queries.py:126,150-152`). Null-safe per P8: null
    * coordinates produce a Point with null coordinate entries, matching the
    * reference's `except TypeError: None` path.
    */
  def geoJsonPoint(lat: Column, lng: Column): Column =
    struct(array(lng, lat).as("coordinates"), lit("Point").as("type"))

  /** The FOREIGN-cell seam — explicitly NOT an h3 decode. Maps any opaque
    * cell id to stable in-range coordinates (lat ∈ [-84.75, 85.25), lng ∈
    * [-174.5, 175.5) — the base [-85,85)/[-175,175) lattice shifted by the
    * anti-tie offsets below) via md5, null-safely (P8). H3's base-cell orientation
    * tables cannot be re-derived offline (see [[IcosaGrid]]'s
    * compatibility note), so foreign H3 indexes are anchored to
    * deterministic pseudo-coordinates here and then snapped onto the real
    * icosahedral grid by [[cellToLatLng]]; a production build with
    * `com.uber:h3` on the classpath would replace THIS function only —
    * every downstream consumer already goes through [[cellToLatLng]].
    *
    * The fractional offsets (+0.25°, +0.5°) keep every anchor off the
    * icosahedron's symmetry planes: integer-degree points (e.g. lng = −90)
    * can tie two mirror faces EXACTLY in the [[IcosaGrid]] encode argmax,
    * and an exact tie is where a 1-ulp cross-libm trig difference could
    * flip the face choice between the engine and the DuckDB oracle.
    * IcosaGridSpec sweeps this whole lattice and pins a ≫ulp margin from
    * every face tie and grid line.
    */
  def cellToPseudoLatLng(cell: Column): (Column, Column) = {
    val h = md5(cell)
    val lat = (conv(substring(h, 1, 8), 16, 10).cast("double") % 170.0) - 85.0 + 0.25
    val lng = (conv(substring(h, 9, 8), 16, 10).cast("double") % 350.0) - 175.0 + 0.5
    (when(cell.isNotNull, lat), when(cell.isNotNull, lng))
  }

  /** Foreign cell id → native [[IcosaGrid]] cell id: anchor the opaque id
    * through the [[cellToPseudoLatLng]] seam, then encode onto the real
    * res-6 icosahedral grid (codegen'd `icosa_encode`; null in → null
    * out). Res 6 gives ~50 km cells — the same scale the reference's
    * res-8-truncated h3 cells cover per city.
    */
  def cellToIcosa(cell: Column): Column = {
    val (lat, lng) = cellToPseudoLatLng(cell)
    call_function("icosa_encode", lat, lng, lit(6))
  }

  /** F3, the product decode: foreign cell id → REAL spherical coordinates
    * of its [[IcosaGrid]] cell center ([[cellToIcosa]] then the codegen'd
    * `icosa_lat`/`icosa_lng`). Downstream geometry — haversine witness
    * weights, city graphs, GeoJSON points — is genuine on-sphere cell
    * geometry; only the anchor from a foreign id to a point inside the
    * grid remains the documented pseudo seam. The two columns share one
    * encode subtree; projection-level subexpression elimination typically
    * evaluates it once per row (it can decline under conditional branches
    * — at worst the row pays two 20-dot argmax encodes, still trivially
    * codegen'd scalar work).
    */
  def cellToLatLng(cell: Column): (Column, Column) = {
    val ic = cellToIcosa(cell)
    (call_function("icosa_lat", ic), call_function("icosa_lng", ic))
  }
}

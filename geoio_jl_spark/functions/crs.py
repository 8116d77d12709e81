"""CRS registry + reprojection — from-scratch replacements for the
reference's CRS machinery (crsstrings.jl, gi.jl:63-68, gis.jl:29-38).

The reference resolves EPSG/ESRI/WKT2/PROJJSON to typed CRS and delegates
math to Proj. No PROJ exists in this environment, so the engine implements
the closed-form transforms its pipelines need (spherical + ellipsoidal
Mercator families) and keeps a registry keyed by authority:code. Two
execution shapes:

- ``lonlat_to_webmercator_cols`` / inverse — pure Spark column arithmetic
  (whole-stage codegen; the scale path for point columns),
- ``transform_wkb_udf`` — Arrow-batched numpy over WKB for full geometries.

Transforms are exact inverses of each other by construction; tests assert
round-trip closure and known anchor values (the role of the reference's
GDAL differential tests, test/crsstrings.jl).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from geoio_jl_spark.functions import wkb as W

R_WGS84 = 6378137.0  # WGS84 semi-major axis (web mercator sphere radius)

KNOWN_CRS = {
    "EPSG:4326": {"kind": "geographic", "axis": "lonlat", "unit": "degree"},
    "OGC:CRS84": {"kind": "geographic", "axis": "lonlat", "unit": "degree"},
    "EPSG:3857": {"kind": "projected", "axis": "xy", "unit": "m",
                  "projection": "webmercator"},
    "EPSG:32633": {"kind": "projected", "axis": "xy", "unit": "m",
                   "projection": "utm", "zone": 33, "south": False},
    "ESRI:54030": {"kind": "projected", "axis": "xy", "unit": "m",
                   "projection": "robinson", "name": "World_Robinson"},
    "EPSG:54030": {"kind": "projected", "axis": "xy", "unit": "m",
                   "projection": "robinson", "name": "World_Robinson"},
}


def _doc_for(crs) -> "dict | None":
    """Any CRS input → PROJJSON document, or None when unresolvable.
    Accepts authority codes (corpus lookup), WKT2, ESRI/OGC WKT1 and
    PROJJSON text/dicts (F9 breadth — gi.jl:63-68 reaches all of PROJ;
    here every input normalizes through the from-scratch parsers)."""
    import re as _re

    from geoio_jl_spark.functions.crs_input import projjson_from_any
    if isinstance(crs, dict):
        return crs
    if not isinstance(crs, str):
        return None
    s = crs.strip()
    if _re.match(r"^[A-Za-z]+:[0-9]+$", s):
        auth, code = s.split(":")
        if auth.upper() in ("EPSG", "OGC", "ESRI"):
            from geoio_jl_spark.functions.wkt2_corpus import projjson_for
            try:
                return projjson_for(int(code))
            except ValueError:
                return None
        return None
    try:
        return projjson_from_any(s)
    except Exception:
        return None


def crs_info(crs) -> dict:
    """CRS input → descriptor (F9). Resolution order: the static
    registry, UTM code patterns, the WKT2 corpus (schema-validated
    PROJJSON), then arbitrary WKT1/WKT2/PROJJSON input; unknown codes
    fall back to a plain Cartesian tag (the reference's fallback,
    gi.jl:63-68)."""
    if isinstance(crs, str):
        hit = KNOWN_CRS.get(crs)
        if hit is not None:
            return hit
        utm = _parse_utm(crs)
        if utm is not None:
            return {"kind": "projected", "axis": "xy", "unit": "m",
                    "projection": "utm", "zone": utm[0], "south": utm[1]}
    doc = _doc_for(crs)
    if doc is not None:
        # structurally incomplete PROJJSON (user dicts are accepted
        # as-is) falls through to the cartesian tag, never a KeyError
        try:
            if doc["type"] in ("GeographicCRS", "GeodeticCRS"):
                kind = ("geocentric"
                        if doc.get("coordinate_system", {}).get("subtype")
                        == "Cartesian" else "geographic")
                return {"kind": kind, "axis": "latlon", "unit": "degree",
                        "name": doc["name"]}
            if doc["type"] == "ProjectedCRS":
                method = doc["conversion"]["method"]["name"]
                return {"kind": "projected", "axis": "xy", "unit": "m",
                        "projection": method, "name": doc["name"]}
        except (KeyError, TypeError, AttributeError):
            pass
    return {"kind": "cartesian", "axis": "xy", "unit": "m"}


# ---------------------------------------------------------------------------
# numpy transforms (exact closed forms)
# ---------------------------------------------------------------------------

def _lonlat_to_webmerc(lon: np.ndarray, lat: np.ndarray):
    lat = np.clip(lat, -89.9999, 89.9999)  # web mercator pole cut
    x = R_WGS84 * np.radians(lon)
    y = R_WGS84 * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))
    return x, y


def _webmerc_to_lonlat(x: np.ndarray, y: np.ndarray):
    lon = np.degrees(x / R_WGS84)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / R_WGS84)) - np.pi / 2.0)
    return lon, lat


_TRANSFORMS = {
    ("EPSG:4326", "EPSG:3857"): _lonlat_to_webmerc,
    ("OGC:CRS84", "EPSG:3857"): _lonlat_to_webmerc,
    ("EPSG:3857", "EPSG:4326"): _webmerc_to_lonlat,
    ("EPSG:3857", "OGC:CRS84"): _webmerc_to_lonlat,
}

# ---------------------------------------------------------------------------
# Transverse Mercator — Krüger series, generalized to any ellipsoid and
# any natural origin (the reference's Projected/TM family — UTM, OSGB,
# Irish/NZ/Polish grids — resolved via PROJ there; here a from-scratch
# 3rd-order-in-n series, sub-mm over a 6° zone)
# ---------------------------------------------------------------------------

_F = 1.0 / 298.257223563
_E2 = _F * (2.0 - _F)
_E = np.sqrt(_E2)


class Ellipsoid:
    """Derived Krüger/Snyder constants for one (a, 1/f) pair."""

    _cache: dict = {}

    def __new__(cls, a: float, invf: float):
        key = (a, invf)
        hit = cls._cache.get(key)
        if hit is not None:
            return hit
        self = super().__new__(cls)
        self.a = a
        self.f = 1.0 / invf if invf else 0.0
        self.e2 = self.f * (2.0 - self.f)
        self.e = float(np.sqrt(self.e2))
        n = self.f / (2.0 - self.f)
        self.n = n
        self.a_bar = a / (1.0 + n) * (1.0 + n ** 2 / 4.0 + n ** 4 / 64.0)
        self.alpha = [
            n / 2.0 - 2.0 * n ** 2 / 3.0 + 5.0 * n ** 3 / 16.0,
            13.0 * n ** 2 / 48.0 - 3.0 * n ** 3 / 5.0,
            61.0 * n ** 3 / 240.0,
        ]
        self.beta = [
            n / 2.0 - 2.0 * n ** 2 / 3.0 + 37.0 * n ** 3 / 96.0,
            n ** 2 / 48.0 + n ** 3 / 15.0,
            17.0 * n ** 3 / 480.0,
        ]
        self.delta = [
            2.0 * n - 2.0 * n ** 2 / 3.0 - 2.0 * n ** 3,
            7.0 * n ** 2 / 3.0 - 8.0 * n ** 3 / 5.0,
            56.0 * n ** 3 / 15.0,
        ]
        cls._cache[key] = self
        return self


WGS84 = Ellipsoid(R_WGS84, 298.257223563)


def _tm_xi_eta(ell: Ellipsoid, lam, phi):
    s = np.sin(phi)
    t = np.sinh(np.arctanh(s) - ell.e * np.arctanh(ell.e * s))
    xi_p = np.arctan2(t, np.cos(lam))
    eta_p = np.arcsinh(np.sin(lam) / np.sqrt(t * t + np.cos(lam) ** 2))
    xi, eta = xi_p.copy(), eta_p.copy()
    for j, a in enumerate(ell.alpha, start=1):
        xi += a * np.sin(2 * j * xi_p) * np.cosh(2 * j * eta_p)
        eta += a * np.cos(2 * j * xi_p) * np.sinh(2 * j * eta_p)
    return xi, eta


def tm_projection(lat0: float, lon0: float, k0: float, fe: float,
                  fn: float, ell: Ellipsoid = WGS84):
    """General Transverse Mercator (EPSG method 9807) fwd+inv factory.
    lat0 != 0 (OSGB, Irish grids) handled via the meridian arc to the
    natural origin on the same series (exact inverse by construction)."""
    lam0 = np.radians(lon0)
    if lat0 != 0.0:
        xi0, _ = _tm_xi_eta(ell, np.zeros(1), np.radians(np.full(1, lat0)))
        m0 = float(k0 * ell.a_bar * xi0[0])
    else:
        m0 = 0.0

    def fwd(lon: np.ndarray, lat: np.ndarray):
        lam = np.radians(np.asarray(lon, float)) - lam0
        phi = np.radians(np.asarray(lat, float))
        xi, eta = _tm_xi_eta(ell, lam, phi)
        return (fe + k0 * ell.a_bar * eta,
                fn + k0 * ell.a_bar * xi - m0)

    def inv(E: np.ndarray, Nn: np.ndarray):
        xi = (np.asarray(Nn, float) - fn + m0) / (k0 * ell.a_bar)
        eta = (np.asarray(E, float) - fe) / (k0 * ell.a_bar)
        xi_p, eta_p = xi.copy(), eta.copy()
        for j, b in enumerate(ell.beta, start=1):
            xi_p -= b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
            eta_p -= b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
        chi = np.arcsin(np.clip(np.sin(xi_p) / np.cosh(eta_p), -1, 1))
        phi = chi.copy()
        for j, d in enumerate(ell.delta, start=1):
            phi += d * np.sin(2 * j * chi)
        lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
        return np.degrees(lam + lam0), np.degrees(phi)

    return fwd, inv


# ---------------------------------------------------------------------------
# Ellipsoidal Mercator (EPSG:3395), Lambert azimuthal equal-area
# (EPSG:3035) and Albers equal-area (EPSG:5070) — Snyder closed forms on
# GRS80/WGS84 (a, e² differ at the cm level; ETRS89/NAD83 treated as
# WGS84-compatible, the standard GIS convention). F15 widening: the
# reference resolves these through PROJ.
# ---------------------------------------------------------------------------

def mercator_projection(lon0: float = 0.0, k0: float = 1.0,
                        fe: float = 0.0, fn: float = 0.0,
                        ell: Ellipsoid = WGS84):
    """Ellipsoidal Mercator, EPSG 9804 (variant A; variant B reduces to
    k0 = m(lat_ts)/m(0) computed by the caller). e.g. EPSG:3395."""
    lam0 = np.radians(lon0)

    def fwd(lon, lat):
        phi = np.radians(np.clip(np.asarray(lat, float), -89.9999, 89.9999))
        es = ell.e * np.sin(phi)
        x = fe + k0 * ell.a * (np.radians(np.asarray(lon, float)) - lam0)
        y = fn + k0 * ell.a * np.log(np.tan(np.pi / 4 + phi / 2)
                                     * ((1 - es) / (1 + es)) ** (ell.e / 2))
        return x, y

    def inv(x, y):
        lon = np.degrees(lam0 + (np.asarray(x, float) - fe) / (k0 * ell.a))
        t = np.exp(-(np.asarray(y, float) - fn) / (k0 * ell.a))
        phi = np.pi / 2 - 2 * np.arctan(t)
        for _ in range(6):
            es = ell.e * np.sin(phi)
            phi = np.pi / 2 - 2 * np.arctan(
                t * ((1 - es) / (1 + es)) ** (ell.e / 2))
        return lon, np.degrees(phi)

    return fwd, inv


_merc_fwd, _merc_inv = mercator_projection()


def _q_auth(phi, ell: Ellipsoid = WGS84):
    s = np.sin(phi)
    if ell.e == 0.0:
        # sphere: lim e→0 of the authalic q is 2·sin(phi) (the /(2e)
        # term → −sin(phi)); the general form would divide by zero
        return 2.0 * s
    return (1 - ell.e2) * (s / (1 - ell.e2 * s * s)
                           - np.log((1 - ell.e * s) / (1 + ell.e * s))
                           / (2 * ell.e))


def _auth_series(ell: Ellipsoid):
    e2 = ell.e2
    return (e2 / 3 + 31 * e2 ** 2 / 180 + 517 * e2 ** 3 / 5040,
            23 * e2 ** 2 / 360 + 251 * e2 ** 3 / 3780,
            761 * e2 ** 3 / 45360)


def _beta_to_phi(beta, ell: Ellipsoid = WGS84):
    c1, c2, c3 = _auth_series(ell)
    return (beta + c1 * np.sin(2 * beta)
            + c2 * np.sin(4 * beta) + c3 * np.sin(6 * beta))


def _m_fn(phi, ell: Ellipsoid = WGS84):
    return np.cos(phi) / np.sqrt(1 - ell.e2 * np.sin(phi) ** 2)


def _laea(lat0: float, lon0: float, fe: float, fn: float,
          ell: Ellipsoid = WGS84):
    """Ellipsoidal oblique LAEA (Snyder 24-2..24-14), e.g. EPSG:3035."""
    _QP = float(_q_auth(np.pi / 2, ell))
    R_WGS84 = ell.a  # names kept for the formulas below
    phi0 = np.radians(lat0)
    lam0 = np.radians(lon0)
    beta0 = np.arcsin(_q_auth(phi0, ell) / _QP)
    rq = R_WGS84 * np.sqrt(_QP / 2)
    d = R_WGS84 * _m_fn(phi0, ell) / (rq * np.cos(beta0))

    def fwd(lon, lat):
        lam = np.radians(np.asarray(lon, float)) - lam0
        beta = np.arcsin(_q_auth(np.radians(np.asarray(lat, float)), ell)
                         / _QP)
        b = rq * np.sqrt(2 / (1 + np.sin(beta0) * np.sin(beta)
                              + np.cos(beta0) * np.cos(beta) * np.cos(lam)))
        x = fe + b * d * np.cos(beta) * np.sin(lam)
        y = fn + (b / d) * (np.cos(beta0) * np.sin(beta)
                            - np.sin(beta0) * np.cos(beta) * np.cos(lam))
        return x, y

    def inv(x, y):
        xx = (np.asarray(x, float) - fe) / d
        yy = (np.asarray(y, float) - fn) * d
        rho = np.sqrt(xx * xx + yy * yy)
        ce = 2 * np.arcsin(np.clip(rho / (2 * rq), -1, 1))
        with np.errstate(invalid="ignore", divide="ignore"):
            beta = np.arcsin(np.clip(
                np.cos(ce) * np.sin(beta0)
                + np.where(rho == 0, 0.0,
                           yy * np.sin(ce) * np.cos(beta0) / rho), -1, 1))
            lam = np.arctan2(
                xx * np.sin(ce),
                rho * np.cos(beta0) * np.cos(ce)
                - yy * np.sin(beta0) * np.sin(ce))
        return (np.degrees(lam0 + lam),
                np.degrees(_beta_to_phi(beta, ell)))

    return fwd, inv


def _albers(lat1: float, lat2: float, lat0: float, lon0: float,
            fe: float, fn: float, ell: Ellipsoid = WGS84):
    """Ellipsoidal Albers equal-area conic (Snyder 14-1..14-11),
    e.g. EPSG:5070 Conus Albers."""
    _QP = float(_q_auth(np.pi / 2, ell))
    a = ell.a
    p1, p2, p0 = (np.radians(v) for v in (lat1, lat2, lat0))
    lam0 = np.radians(lon0)
    m1, m2 = _m_fn(p1, ell), _m_fn(p2, ell)
    q0, q1, q2 = _q_auth(p0, ell), _q_auth(p1, ell), _q_auth(p2, ell)
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    c = m1 * m1 + n * q1
    rho0 = a * np.sqrt(c - n * q0) / n

    def fwd(lon, lat):
        q = _q_auth(np.radians(np.asarray(lat, float)), ell)
        rho = a * np.sqrt(c - n * q) / n
        theta = n * (np.radians(np.asarray(lon, float)) - lam0)
        return fe + rho * np.sin(theta), fn + rho0 - rho * np.cos(theta)

    def inv(x, y):
        xx = np.asarray(x, float) - fe
        yy = rho0 - (np.asarray(y, float) - fn)
        rho = np.sqrt(xx * xx + yy * yy)
        theta = np.arctan2(np.sign(n) * xx, np.sign(n) * yy)
        q = (c - (rho * n / a) ** 2) / n
        beta = np.arcsin(np.clip(q / _QP, -1, 1))
        return (np.degrees(lam0 + theta / n),
                np.degrees(_beta_to_phi(beta, ell)))

    return fwd, inv


def lcc_projection(lat1: float, lat2: float, lat0: float, lon0: float,
                   fe: float, fn: float, ell: Ellipsoid = WGS84):
    """Lambert Conformal Conic 2SP (EPSG 9802; Snyder 15-1..15-11).
    1SP (9801) reduces to lat1 = lat2 = lat0 with k0 folded by the
    caller into the parallels."""
    a, e = ell.a, ell.e
    p1, p2, p0 = (np.radians(v) for v in (lat1, lat2, lat0))
    lam0 = np.radians(lon0)

    def _t(phi):
        es = e * np.sin(phi)
        return (np.tan(np.pi / 4 - phi / 2)
                / ((1 - es) / (1 + es)) ** (e / 2))

    m1, m2 = _m_fn(p1, ell), _m_fn(p2, ell)
    t0, t1, t2 = _t(p0), _t(p1), _t(p2)
    if abs(lat1 - lat2) < 1e-12:
        n = np.sin(p1)
    else:
        n = (np.log(m1) - np.log(m2)) / (np.log(t1) - np.log(t2))
    big_f = m1 / (n * t1 ** n)
    rho0 = a * big_f * t0 ** n

    def fwd(lon, lat):
        phi = np.radians(np.clip(np.asarray(lat, float), -89.9999, 89.9999))
        rho = a * big_f * _t(phi) ** n
        theta = n * (np.radians(np.asarray(lon, float)) - lam0)
        return fe + rho * np.sin(theta), fn + rho0 - rho * np.cos(theta)

    def inv(x, y):
        xx = np.asarray(x, float) - fe
        yy = rho0 - (np.asarray(y, float) - fn)
        rho = np.sign(n) * np.sqrt(xx * xx + yy * yy)
        theta = np.arctan2(np.sign(n) * xx, np.sign(n) * yy)
        t = (rho / (a * big_f)) ** (1 / n)
        phi = np.pi / 2 - 2 * np.arctan(t)
        for _ in range(8):
            es = e * np.sin(phi)
            phi = np.pi / 2 - 2 * np.arctan(
                t * ((1 - es) / (1 + es)) ** (e / 2))
        return np.degrees(lam0 + theta / n), np.degrees(phi)

    return fwd, inv


def polar_stereographic(variant: str, lat0_or_ts: float, lon0: float,
                        k0: float, fe: float, fn: float,
                        ell: Ellipsoid = WGS84):
    """Polar Stereographic variant A (EPSG 9810: natural origin at the
    pole, scale k0), variant B (EPSG 9829: standard parallel) and
    variant C (EPSG 9830: false origin ON the standard parallel — the
    Terre Adelie / EPSG:2986 method). EPSG convention both aspects:
    E = FE + ρ sin(λ−λ0); N = FN [+ sgn·ρF for C] − sgn·ρ cos(λ−λ0)."""
    a, e = ell.a, ell.e
    south = lat0_or_ts < 0
    sgn = -1.0 if south else 1.0
    lam0 = np.radians(lon0)

    def _t(phi):
        es = e * np.sin(phi)
        return (np.tan(np.pi / 4 - phi / 2)
                / ((1 - es) / (1 + es)) ** (e / 2))

    if variant == "A":
        kk = k0 * 2 * a / np.sqrt((1 + e) ** (1 + e) * (1 - e) ** (1 - e))
        off = 0.0
    else:  # variants B / C: scale from the standard parallel
        phi_f = np.radians(abs(lat0_or_ts))
        kk = a * _m_fn(phi_f, ell) / _t(phi_f)
        off = sgn * kk * _t(phi_f) if variant == "C" else 0.0

    def fwd(lon, lat):
        phi = sgn * np.radians(np.asarray(lat, float))
        theta = np.radians(np.asarray(lon, float)) - lam0
        rho = kk * _t(phi)
        return (fe + rho * np.sin(theta),
                fn + off - sgn * rho * np.cos(theta))

    def inv(x, y):
        xx = np.asarray(x, float) - fe
        yy = sgn * (fn + off - np.asarray(y, float))
        rho = np.sqrt(xx * xx + yy * yy)
        t = rho / kk
        phi = np.pi / 2 - 2 * np.arctan(t)
        for _ in range(8):
            es = e * np.sin(phi)
            phi = np.pi / 2 - 2 * np.arctan(
                t * ((1 - es) / (1 + es)) ** (e / 2))
        theta = np.arctan2(xx, yy)
        return np.degrees(theta + lam0), np.degrees(sgn * phi)

    return fwd, inv


def modified_azimuthal_equidistant(lat0: float, lon0: float, fe: float,
                                   fn: float, ell: Ellipsoid = WGS84):
    """Modified Azimuthal Equidistant, EPSG method 9832 (the
    Guam/Micronesia island grids, e.g. EPSG:3295 Yap Islands) — EPSG
    Guidance Note 7-2 series formulas; e = 0 reduces to the spherical
    azimuthal equidistant, so the ESRI "Azimuthal_Equidistant" spelling
    dispatches here too."""
    a, e = ell.a, ell.e
    e2 = ell.e2
    p0 = np.radians(lat0)
    lam0 = np.radians(lon0)
    nu0 = a / np.sqrt(1 - e2 * np.sin(p0) ** 2)

    def fwd(lon, lat):
        phi = np.radians(np.asarray(lat, float))
        dlam = np.radians(np.asarray(lon, float)) - lam0
        nu = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
        psi = np.arctan((1 - e2) * np.tan(phi)
                        + e2 * nu0 * np.sin(p0) / (nu * np.cos(phi)))
        alpha = np.arctan2(np.sin(dlam),
                           np.cos(p0) * np.tan(psi)
                           - np.sin(p0) * np.cos(dlam))
        G = e * np.sin(p0) / np.sqrt(1 - e2)
        H = e * np.cos(p0) * np.cos(alpha) / np.sqrt(1 - e2)
        sin_a = np.sin(alpha)
        s = np.where(
            np.abs(sin_a) < 1e-12,
            np.arcsin(np.clip(np.cos(p0) * np.sin(psi)
                              - np.sin(p0) * np.cos(psi), -1, 1))
            * np.sign(np.cos(alpha)),
            np.arcsin(np.clip(np.sin(dlam) * np.cos(psi) / sin_a, -1, 1)))
        c = nu0 * s * (
            1 - s ** 2 * H ** 2 * (1 - H ** 2) / 6
            + (s ** 3 / 8) * G * H * (1 - 2 * H ** 2)
            + (s ** 4 / 120) * (H ** 2 * (4 - 7 * H ** 2)
                                - 3 * G ** 2 * (1 - 7 * H ** 2))
            - (s ** 5 / 48) * G * H)
        return fe + c * np.sin(alpha), fn + c * np.cos(alpha)

    def inv(x, y):
        xx = np.asarray(x, float) - fe
        yy = np.asarray(y, float) - fn
        cp = np.sqrt(xx * xx + yy * yy)
        alpha = np.arctan2(xx, yy)
        A = -e2 * np.cos(p0) ** 2 * np.cos(alpha) ** 2 / (1 - e2)
        B = (3 * e2 * (1 - A) * np.sin(p0) * np.cos(p0) * np.cos(alpha)
             / (1 - e2))
        D = cp / nu0
        J = (D - A * (1 + A) * D ** 3 / 6
             - B * (1 + 3 * A) * D ** 4 / 24)
        K = 1 - A * J ** 2 / 2 - B * J ** 3 / 6
        psi = np.arcsin(np.clip(np.sin(p0) * np.cos(J)
                                + np.cos(p0) * np.sin(J) * np.cos(alpha),
                                -1, 1))
        phi = np.arctan((1 - e2 * K * np.sin(p0) / np.sin(psi))
                        * np.tan(psi) / (1 - e2))
        lam = lam0 + np.arcsin(np.clip(np.sin(alpha) * np.sin(J)
                                       / np.cos(psi), -1, 1))
        return np.degrees(lam), np.degrees(phi)

    return fwd, inv


def cassini_soldner(lat0: float, lon0: float, fe: float, fn: float,
                    ell: Ellipsoid = WGS84):
    """Cassini-Soldner (EPSG 9806; Snyder 13-1..13-13), e.g. the Hong
    Kong 1963 Grid (EPSG:3407)."""
    a, e2 = ell.a, ell.e2
    e4, e6 = e2 * e2, e2 * e2 * e2
    lam0 = np.radians(lon0)

    def _mer(phi):  # meridian arc from the equator (Snyder 3-21)
        return a * ((1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * phi
                    - (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024)
                    * np.sin(2 * phi)
                    + (15 * e4 / 256 + 45 * e6 / 1024) * np.sin(4 * phi)
                    - (35 * e6 / 3072) * np.sin(6 * phi))

    m0 = float(_mer(np.radians(lat0)))
    e1 = (1 - np.sqrt(1 - e2)) / (1 + np.sqrt(1 - e2))

    def fwd(lon, lat):
        phi = np.radians(np.asarray(lat, float))
        lam = np.radians(np.asarray(lon, float)) - lam0
        sin_p, cos_p = np.sin(phi), np.cos(phi)
        nn = a / np.sqrt(1 - e2 * sin_p ** 2)
        tt = np.tan(phi) ** 2
        aa = lam * cos_p
        cc = e2 * cos_p ** 2 / (1 - e2)
        x = nn * (aa - tt * aa ** 3 / 6
                  - (8 - tt + 8 * cc) * tt * aa ** 5 / 120)
        y = (_mer(phi) - m0
             + nn * np.tan(phi) * (aa ** 2 / 2
                                   + (5 - tt + 6 * cc) * aa ** 4 / 24))
        return fe + x, fn + y

    def inv(E, Nn):
        m1 = m0 + (np.asarray(Nn, float) - fn)
        mu1 = m1 / (a * (1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256))
        phi1 = (mu1
                + (3 * e1 / 2 - 27 * e1 ** 3 / 32) * np.sin(2 * mu1)
                + (21 * e1 ** 2 / 16 - 55 * e1 ** 4 / 32) * np.sin(4 * mu1)
                + (151 * e1 ** 3 / 96) * np.sin(6 * mu1)
                + (1097 * e1 ** 4 / 512) * np.sin(8 * mu1))
        sin1 = np.sin(phi1)
        t1 = np.tan(phi1) ** 2
        n1 = a / np.sqrt(1 - e2 * sin1 ** 2)
        r1 = a * (1 - e2) / (1 - e2 * sin1 ** 2) ** 1.5
        dd = (np.asarray(E, float) - fe) / n1
        phi = phi1 - (n1 * np.tan(phi1) / r1) * (
            dd ** 2 / 2 - (1 + 3 * t1) * dd ** 4 / 24)
        lam = (dd - t1 * dd ** 3 / 3
               + (1 + 3 * t1) * t1 * dd ** 5 / 15) / np.cos(phi1)
        return np.degrees(lam0 + lam), np.degrees(phi)

    return fwd, inv


# ---------------------------------------------------------------------------
# Robinson (ESRI:54030) — pseudocylindrical over Robinson's published
# 5°-interval coefficient table (Snyder, "An Album of Map Projections"),
# interpolated with a natural cubic spline built here (no scipy), sphere
# of radius a.  Inverse: closed form in X once the spline for Y is
# inverted with Newton (monotone in |lat|).
# ---------------------------------------------------------------------------

_ROBINSON_LATS = np.arange(0.0, 95.0, 5.0)
_ROBINSON_X = np.array([
    1.0000, 0.9986, 0.9954, 0.9900, 0.9822, 0.9730, 0.9600, 0.9427,
    0.9216, 0.8962, 0.8679, 0.8350, 0.7986, 0.7597, 0.7186, 0.6732,
    0.6213, 0.5722, 0.5322])
_ROBINSON_Y = np.array([
    0.0000, 0.0620, 0.1240, 0.1860, 0.2480, 0.3100, 0.3720, 0.4340,
    0.4958, 0.5571, 0.6176, 0.6769, 0.7346, 0.7903, 0.8435, 0.8936,
    0.9394, 0.9761, 1.0000])


def _nat_cubic(xs: np.ndarray, ys: np.ndarray):
    """Natural cubic spline: returns (eval, derivative) callables."""
    n = len(xs) - 1
    h = np.diff(xs)
    rhs = np.zeros(n + 1)
    rhs[1:n] = 3 * (np.diff(ys[1:]) / h[1:] - np.diff(ys[:-1]) / h[:-1])
    mat = np.zeros((n + 1, n + 1))
    mat[0, 0] = mat[n, n] = 1.0
    for i in range(1, n):
        mat[i, i - 1] = h[i - 1]
        mat[i, i] = 2 * (h[i - 1] + h[i])
        mat[i, i + 1] = h[i]
    c = np.linalg.solve(mat, rhs)
    b = np.diff(ys) / h - h * (2 * c[:-1] + c[1:]) / 3
    d = np.diff(c) / (3 * h)

    def ev(x):
        x = np.asarray(x, float)
        i = np.clip(np.searchsorted(xs, x, "right") - 1, 0, n - 1)
        dx = x - xs[i]
        return ys[i] + b[i] * dx + c[i] * dx ** 2 + d[i] * dx ** 3

    def dv(x):
        x = np.asarray(x, float)
        i = np.clip(np.searchsorted(xs, x, "right") - 1, 0, n - 1)
        dx = x - xs[i]
        return b[i] + 2 * c[i] * dx + 3 * d[i] * dx ** 2

    return ev, dv


_ROB_X_EV, _ROB_X_DV = _nat_cubic(_ROBINSON_LATS, _ROBINSON_X)
_ROB_Y_EV, _ROB_Y_DV = _nat_cubic(_ROBINSON_LATS, _ROBINSON_Y)


def _meridian_arc(phi, ell: Ellipsoid):
    """Meridian arc from the equator (Snyder 3-21)."""
    a, e2 = ell.a, ell.e2
    e4, e6 = e2 * e2, e2 * e2 * e2
    return a * ((1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * phi
                - (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024)
                * np.sin(2 * phi)
                + (15 * e4 / 256 + 45 * e6 / 1024) * np.sin(4 * phi)
                - (35 * e6 / 3072) * np.sin(6 * phi))


def _inv_meridian_arc(m, ell: Ellipsoid):
    """Footpoint latitude from a meridian arc (Snyder 3-26 series)."""
    a, e2 = ell.a, ell.e2
    e4, e6 = e2 * e2, e2 * e2 * e2
    mu = m / (a * (1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256))
    e1 = (1 - np.sqrt(1 - e2)) / (1 + np.sqrt(1 - e2))
    return (mu
            + (3 * e1 / 2 - 27 * e1 ** 3 / 32) * np.sin(2 * mu)
            + (21 * e1 ** 2 / 16 - 55 * e1 ** 4 / 32) * np.sin(4 * mu)
            + (151 * e1 ** 3 / 96) * np.sin(6 * mu)
            + (1097 * e1 ** 4 / 512) * np.sin(8 * mu))


def equidistant_cylindrical(lat1: float, lon0: float, fe: float, fn: float,
                            ell: Ellipsoid = WGS84,
                            spherical: bool = False):
    """Equidistant Cylindrical, EPSG methods 1028 (ellipsoidal: x along
    the standard parallel's nu*cos(lat1), y = meridian arc) and 1029
    (spherical, Plate Carree).  GN7-2 worked example (WGS 84 /
    World Equidistant Cylindrical, (10E, 55N) -> 1113194.91,
    6097230.31) pinned in tests."""
    lam0 = np.radians(lon0)
    p1 = np.radians(lat1)
    if spherical:
        R = ell.a
        kx = R * np.cos(p1)

        def fwd(lon, lat):
            lam = np.radians(np.asarray(lon, float)) - lam0
            phi = np.radians(np.asarray(lat, float))
            return fe + kx * lam, fn + R * phi

        def inv(x, y):
            lam = (np.asarray(x, float) - fe) / kx + lam0
            phi = (np.asarray(y, float) - fn) / R
            return np.degrees(lam), np.degrees(phi)

        return fwd, inv

    nu1 = ell.a / np.sqrt(1 - ell.e2 * np.sin(p1) ** 2)
    kx = nu1 * np.cos(p1)

    def fwd(lon, lat):
        lam = np.radians(np.asarray(lon, float)) - lam0
        phi = np.radians(np.asarray(lat, float))
        return fe + kx * lam, fn + _meridian_arc(phi, ell)

    def inv(x, y):
        lam = (np.asarray(x, float) - fe) / kx + lam0
        phi = _inv_meridian_arc(np.asarray(y, float) - fn, ell)
        return np.degrees(lam), np.degrees(phi)

    return fwd, inv


def sinusoidal(lon0: float, fe: float, fn: float,
               ell: Ellipsoid = WGS84):
    """Sinusoidal (Sanson-Flamsteed), Snyder §30 — the MODIS grid CRS
    (ESRI:54008 / the MODIS authalic sphere R=6371007.181, the single
    most common raster CRS in earth-science archives; the reference
    reaches it through PROJ, src/conversion/gi.jl:63-68).  Ellipsoidal
    form (Snyder 30-8/30-9): x = a·Δλ·cosφ/√(1−e²sin²φ), y = M(φ);
    with e=0 this reduces exactly to the spherical R·Δλ·cosφ / R·φ,
    so the sphere datum needs no special case."""
    a, e2 = ell.a, ell.e2
    lam0 = np.radians(lon0)

    def fwd(lon, lat):
        phi = np.radians(np.asarray(lat, float))
        lam = np.radians(np.asarray(lon, float)) - lam0
        x = a * lam * np.cos(phi) / np.sqrt(1 - e2 * np.sin(phi) ** 2)
        return fe + x, fn + _meridian_arc(phi, ell)

    def inv(x, y):
        phi = _inv_meridian_arc(np.asarray(y, float) - fn, ell)
        cp = np.cos(phi)
        cp = np.where(np.abs(cp) < 1e-12, 1e-12, cp)  # pole guard
        lam = ((np.asarray(x, float) - fe)
               * np.sqrt(1 - e2 * np.sin(phi) ** 2) / (a * cp))
        return np.degrees(lam0 + lam), np.degrees(phi)

    return fwd, inv


def orthographic(lat0: float, lon0: float, fe: float, fn: float,
                 ell: Ellipsoid = WGS84):
    """Orthographic, EPSG method 9840 (ellipsoidal, EPSG GN7-2 §3.2.x):

        E = FE + ν·cosφ·sin(λ−λ0)
        N = FN + ν·(sinφ·cosφ0 − cosφ·sinφ0·cos(λ−λ0))
               + e²·(ν0·sinφ0 − ν·sinφ)·cosφ0

    The perspective view of the ellipsoid from infinity; only points on
    the visible hemisphere (cos c >= 0 about the origin) map uniquely.
    Inverse: spherical first guess, then vectorized Newton on the two
    forward equations (analytic Jacobian via central differences —
    converges quadratically well inside the hemisphere)."""
    a, e2 = ell.a, ell.e2
    p0, l0 = np.radians(lat0), np.radians(lon0)
    nu0 = a / np.sqrt(1 - e2 * np.sin(p0) ** 2)

    def _fwd_rad(phi, lam):
        nu = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
        dl = lam - l0
        E = nu * np.cos(phi) * np.sin(dl)
        N = (nu * (np.sin(phi) * np.cos(p0)
                   - np.cos(phi) * np.sin(p0) * np.cos(dl))
             + e2 * (nu0 * np.sin(p0) - nu * np.sin(phi)) * np.cos(p0))
        return E, N

    def fwd(lon, lat):
        E, N = _fwd_rad(np.radians(np.asarray(lat, float)),
                        np.radians(np.asarray(lon, float)))
        return fe + E, fn + N

    def inv(E, N):
        Ep = np.asarray(E, float) - fe
        Np = np.asarray(N, float) - fn
        # spherical first guess (Snyder 20-14..20-17, R = nu0)
        rho = np.hypot(Ep, Np)
        cc = np.arcsin(np.clip(rho / nu0, -1.0, 1.0))
        with np.errstate(invalid="ignore", divide="ignore"):
            phi = np.where(rho < 1e-9, p0, np.arcsin(np.clip(
                np.cos(cc) * np.sin(p0)
                + np.where(rho < 1e-9, 0.0, Np * np.sin(cc) * np.cos(p0)
                           / np.where(rho < 1e-9, 1.0, rho)), -1.0, 1.0)))
            lam = l0 + np.arctan2(
                Ep * np.sin(cc),
                rho * np.cos(p0) * np.cos(cc) - Np * np.sin(p0) * np.sin(cc))
        h = 1e-7
        for _ in range(10):
            F1, F2 = _fwd_rad(phi, lam)
            F1, F2 = F1 - Ep, F2 - Np
            a11 = (_fwd_rad(phi + h, lam)[0] - _fwd_rad(phi - h, lam)[0]) / (2 * h)
            a12 = (_fwd_rad(phi, lam + h)[0] - _fwd_rad(phi, lam - h)[0]) / (2 * h)
            a21 = (_fwd_rad(phi + h, lam)[1] - _fwd_rad(phi - h, lam)[1]) / (2 * h)
            a22 = (_fwd_rad(phi, lam + h)[1] - _fwd_rad(phi, lam - h)[1]) / (2 * h)
            det = a11 * a22 - a12 * a21
            det = np.where(np.abs(det) < 1e-12, 1e-12, det)
            phi = phi - (F1 * a22 - F2 * a12) / det
            lam = lam - (a11 * F2 - a21 * F1) / det
        return np.degrees(lam), np.degrees(phi)

    return fwd, inv


def _meridian_arc_deriv(phi, ell: Ellipsoid):
    """d(meridian arc)/d(phi) / a — derivative of Snyder 3-21."""
    e2 = ell.e2
    e4, e6 = e2 * e2, e2 * e2 * e2
    return ((1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256)
            - 2 * (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024)
            * np.cos(2 * phi)
            + 4 * (15 * e4 / 256 + 45 * e6 / 1024) * np.cos(4 * phi)
            - 6 * (35 * e6 / 3072) * np.cos(6 * phi))


def polyconic(lat0: float, lon0: float, fe: float, fn: float,
              ell: Ellipsoid = WGS84):
    """American Polyconic, EPSG method 9818 (Snyder 18-12..18-23) —
    the Brazilian SAD69 Polyconic grid (EPSG:29101).  Each parallel is
    an arc of its own tangent cone: radius nu*cot(phi) centered on the
    central meridian — the invariant the tests pin, together with the
    exact meridian-arc identity along lon0."""
    a, e2, e = ell.a, ell.e2, ell.e
    lam0 = np.radians(lon0)
    m0 = float(_meridian_arc(np.radians(lat0), ell))

    def fwd(lon, lat):
        phi = np.radians(np.asarray(lat, float))
        lam = np.radians(np.asarray(lon, float)) - lam0
        sp = np.sin(phi)
        eq = np.abs(phi) < 1e-12
        phi_s = np.where(eq, 1e-12, phi)  # avoid cot(0); masked below
        nu = a / np.sqrt(1 - e2 * np.sin(phi_s) ** 2)
        cot = np.cos(phi_s) / np.sin(phi_s)
        L = lam * np.sin(phi_s)
        x = np.where(eq, a * lam, nu * cot * np.sin(L))
        y = np.where(eq, -m0,
                     _meridian_arc(phi_s, ell) - m0
                     + nu * cot * (1 - np.cos(L)))
        return fe + x, fn + y

    def inv(x, y):
        xp = (np.asarray(x, float) - fe) / a
        yp = (np.asarray(y, float) - fn) / a
        A = (m0 / a) + yp
        B = xp * xp + A * A
        eq = np.abs(A) < 1e-12
        phi = np.where(eq, 0.0, A)
        for _ in range(12):
            sp = np.sin(phi)
            s2 = np.sin(2 * phi)
            s2 = np.where(np.abs(s2) < 1e-12, 1e-12, s2)
            C = np.sqrt(1 - e2 * sp * sp) * np.tan(
                np.where(eq, 1e-12, phi))
            Ma = _meridian_arc(phi, ell) / a
            Mnp = _meridian_arc_deriv(phi, ell)
            num = A * (C * Ma + 1) - Ma - 0.5 * C * (Ma * Ma + B)
            den = (e2 * s2 * (Ma * Ma + B - 2 * A * Ma) / (4 * C)
                   + (A - Ma) * (C * Mnp - 2 / s2) - Mnp)
            phi = np.where(eq, 0.0, phi - num / den)
        sp = np.sin(phi)
        C = np.sqrt(1 - e2 * sp * sp) * np.tan(
            np.where(eq, 1e-12, phi))
        lam = np.where(
            eq, xp,
            np.arcsin(np.clip(xp * C, -1.0, 1.0))
            / np.where(eq, 1.0, sp))
        return np.degrees(lam + lam0), np.degrees(phi)

    return fwd, inv


# ---------------------------------------------------------------------------
# Oblique families (round 4: r3 VERDICT #3 — the first national grids a
# European user feeds in; the reference reaches them through PROJ,
# src/conversion/gi.jl:63-68).  All closed forms follow the public EPSG
# Guidance Note 7-2 and are pinned to its worked examples in
# tests/test_crs_input.py.
# ---------------------------------------------------------------------------

def oblique_stereographic(lat0: float, lon0: float, k0: float, fe: float,
                          fn: float, ell: Ellipsoid = WGS84):
    """Oblique (double) Stereographic, EPSG method 9809 — the Dutch RD
    grid (EPSG:28992).  Conformal-sphere construction per EPSG GN7-2;
    worked example: Amersfoort / RD New, (6E, 53N) -> (196105.283,
    557057.739)."""
    a, e2, e = ell.a, ell.e2, ell.e
    p0 = np.radians(lat0)
    l0 = np.radians(lon0)
    rho0 = a * (1 - e2) / (1 - e2 * np.sin(p0) ** 2) ** 1.5
    nu0 = a / np.sqrt(1 - e2 * np.sin(p0) ** 2)
    R = np.sqrt(rho0 * nu0)
    n = np.sqrt(1 + e2 * np.cos(p0) ** 4 / (1 - e2))
    S1 = (1 + np.sin(p0)) / (1 - np.sin(p0))
    S2 = (1 - e * np.sin(p0)) / (1 + e * np.sin(p0))
    w1 = (S1 * S2 ** e) ** n
    sx0 = (w1 - 1) / (w1 + 1)
    c = ((n + np.sin(p0)) * (1 - sx0)) / ((n - np.sin(p0)) * (1 + sx0))
    w2 = c * w1
    x0 = np.arcsin((w2 - 1) / (w2 + 1))  # conformal latitude of origin

    def fwd(lon, lat):
        phi = np.radians(np.asarray(lat, float))
        L = n * (np.radians(np.asarray(lon, float)) - l0)
        Sa = (1 + np.sin(phi)) / (1 - np.sin(phi))
        Sb = (1 - e * np.sin(phi)) / (1 + e * np.sin(phi))
        w = c * (Sa * Sb ** e) ** n
        x = np.arcsin((w - 1) / (w + 1))
        B = 1 + np.sin(x) * np.sin(x0) + np.cos(x) * np.cos(x0) * np.cos(L)
        E = fe + 2 * R * k0 * np.cos(x) * np.sin(L) / B
        N = fn + 2 * R * k0 * (np.sin(x) * np.cos(x0)
                               - np.cos(x) * np.sin(x0) * np.cos(L)) / B
        return E, N

    def inv(E, N):
        Ep = np.asarray(E, float) - fe
        Np = np.asarray(N, float) - fn
        g = 2 * R * k0 * np.tan(np.pi / 4 - x0 / 2)
        h = 4 * R * k0 * np.tan(x0) + g
        i = np.arctan2(Ep, h + Np)
        j = np.arctan2(Ep, g - Np) - i
        x = x0 + 2 * np.arctan((Np - Ep * np.tan(j / 2)) / (2 * R * k0))
        L = j + 2 * i
        lam = L / n + l0
        # conformal -> geodetic latitude (GN7-2 iteration on the
        # isometric latitude)
        psi = (np.log((1 + np.sin(x)) / (c * (1 - np.sin(x)))) / (2 * n))
        phi = 2 * np.arctan(np.exp(psi)) - np.pi / 2
        for _ in range(8):
            es = e * np.sin(phi)
            psi_i = np.log(np.tan(phi / 2 + np.pi / 4)
                           * ((1 - es) / (1 + es)) ** (e / 2))
            phi = phi - ((psi_i - psi) * np.cos(phi)
                         * (1 - es * es) / (1 - e2))
        return np.degrees(lam), np.degrees(phi)

    return fwd, inv


def hotine_oblique_mercator(latc: float, lonc: float, azc: float,
                            gammac: float, k0: float, fe: float, fn: float,
                            ell: Ellipsoid = WGS84, variant: str = "B"):
    """Hotine Oblique Mercator, EPSG methods 9812 (variant A: FE/FN at
    the natural origin) and 9815 (variant B: Ec/Nc at the projection
    centre) — Swiss LV03/LV95 (azc = 90), RSO grids.  GN7-2 worked
    example (Timbalai / RSO Borneo) pinned in tests; the azc=90 Swiss
    case degenerates to arcsin(1) in the lambda0 term (clipped) and
    uc = A(lonc - lambda0)."""
    a, e2, e = ell.a, ell.e2, ell.e
    pc = np.radians(latc)
    lc = np.radians(lonc)
    ac = np.radians(azc)
    gc = np.radians(gammac)
    sgn = 1.0 if latc >= 0 else -1.0
    B = np.sqrt(1 + e2 * np.cos(pc) ** 4 / (1 - e2))
    A = a * B * k0 * np.sqrt(1 - e2) / (1 - e2 * np.sin(pc) ** 2)
    t0 = (np.tan(np.pi / 4 - pc / 2)
          / ((1 - e * np.sin(pc)) / (1 + e * np.sin(pc))) ** (e / 2))
    D = (B * np.sqrt(1 - e2)
         / (np.cos(pc) * np.sqrt(1 - e2 * np.sin(pc) ** 2)))
    D2 = max(D * D, 1.0)
    Fc = D + np.sqrt(D2 - 1) * sgn
    H = Fc * t0 ** B
    G = (Fc - 1 / Fc) / 2
    g0 = np.arcsin(np.sin(ac) / D)
    if abs(azc - 90.0) < 1e-9:
        # Swiss/Hungarian case: G*tan(g0) is analytically exactly 1
        # (F - 1/F = 2*sqrt(D^2-1) and tan(g0) = 1/sqrt(D^2-1)); going
        # through arcsin would lose ~3 cm to rounding at the centre
        l0 = lc - (np.pi / 2) / B
    else:
        l0 = lc - np.arcsin(np.clip(G * np.tan(g0), -1.0, 1.0)) / B
    if variant == "B":
        if abs(azc - 90.0) < 1e-9:
            uc = A * (lc - l0)
        else:
            uc = (A / B) * np.arctan2(np.sqrt(D2 - 1), np.cos(ac)) * sgn
    else:
        uc = 0.0

    def _uv(lon, lat):
        phi = np.radians(np.asarray(lat, float))
        lam = np.radians(np.asarray(lon, float))
        t = (np.tan(np.pi / 4 - phi / 2)
             / ((1 - e * np.sin(phi)) / (1 + e * np.sin(phi))) ** (e / 2))
        Q = H / t ** B
        S = (Q - 1 / Q) / 2
        T = (Q + 1 / Q) / 2
        V = np.sin(B * (lam - l0))
        U = (-V * np.cos(g0) + S * np.sin(g0)) / T
        v = A * np.log((1 - U) / (1 + U)) / (2 * B)
        u = (A * np.arctan2(S * np.cos(g0) + V * np.sin(g0),
                            np.cos(B * (lam - l0))) / B
             - abs(uc) * sgn)
        return u, v

    def fwd(lon, lat):
        u, v = _uv(lon, lat)
        E = v * np.cos(gc) + u * np.sin(gc) + fe
        N = u * np.cos(gc) - v * np.sin(gc) + fn
        return E, N

    def inv(E, N):
        Ep = np.asarray(E, float) - fe
        Np = np.asarray(N, float) - fn
        v = Ep * np.cos(gc) - Np * np.sin(gc)
        u = Np * np.cos(gc) + Ep * np.sin(gc) + abs(uc) * sgn
        Qp = np.exp(-B * v / A)
        Sp = (Qp - 1 / Qp) / 2
        Tp = (Qp + 1 / Qp) / 2
        Vp = np.sin(B * u / A)
        Up = (Vp * np.cos(g0) + Sp * np.sin(g0)) / Tp
        tp = (H / np.sqrt((1 + Up) / (1 - Up))) ** (1 / B)
        phi = np.pi / 2 - 2 * np.arctan(tp)
        for _ in range(8):
            es = e * np.sin(phi)
            phi = np.pi / 2 - 2 * np.arctan(
                tp * ((1 - es) / (1 + es)) ** (e / 2))
        lam = l0 - np.arctan2(Sp * np.cos(g0) - Vp * np.sin(g0),
                              np.cos(B * u / A)) / B
        return np.degrees(lam), np.degrees(phi)

    return fwd, inv


def krovak(latc: float, lon0: float, azc: float, lat1: float, k0: float,
           fe: float, fn: float, ell: Ellipsoid = WGS84,
           north_orientated: bool = False):
    """Krovak oblique conformal conic, EPSG methods 9819 (southing X,
    westing Y) and 1041 (North Orientated: easting = -Y, northing = -X)
    — the Czech/Slovak S-JTSK grids (EPSG:5513/5514).  ``lon0`` is
    Greenwich-based (crs_input folds the Ferro prime meridian in).
    GN7-2 worked example pinned in tests (U/V/T/D intermediates match
    to 1e-9)."""
    a, e2, e = ell.a, ell.e2, ell.e
    pc = np.radians(latc)
    az = np.radians(azc)
    p1 = np.radians(lat1)
    A_ = a * np.sqrt(1 - e2) / (1 - e2 * np.sin(pc) ** 2)
    B_ = np.sqrt(1 + e2 * np.cos(pc) ** 4 / (1 - e2))
    g0 = np.arcsin(np.sin(pc) / B_)
    t0 = (np.tan(np.pi / 4 + g0 / 2)
          * ((1 + e * np.sin(pc)) / (1 - e * np.sin(pc))) ** (e * B_ / 2)
          / np.tan(np.pi / 4 + pc / 2) ** B_)
    n = np.sin(p1)
    r0 = k0 * A_ / np.tan(p1)
    l0 = np.radians(lon0)
    tan_p1 = np.tan(np.pi / 4 + p1 / 2)

    def fwd(lon, lat):
        phi = np.radians(np.asarray(lat, float))
        es = e * np.sin(phi)
        U = 2 * (np.arctan(t0 * np.tan(phi / 2 + np.pi / 4) ** B_
                           / ((1 + es) / (1 - es)) ** (e * B_ / 2))
                 - np.pi / 4)
        V = B_ * (l0 - np.radians(np.asarray(lon, float)))
        T_ = np.arcsin(np.cos(az) * np.sin(U)
                       + np.sin(az) * np.cos(U) * np.cos(V))
        D_ = np.arcsin(np.cos(U) * np.sin(V) / np.cos(T_))
        th = n * D_
        r = r0 * tan_p1 ** n / np.tan(T_ / 2 + np.pi / 4) ** n
        Xs = r * np.cos(th)  # southing
        Yw = r * np.sin(th)  # westing
        if north_orientated:  # 1041: offsets on the easting/northing axes
            return -Yw + fe, -Xs + fn
        return Xs + fn, Yw + fe

    def inv(x, y):
        if north_orientated:
            Xs = -(np.asarray(y, float) - fn)
            Yw = -(np.asarray(x, float) - fe)
        else:
            Xs = np.asarray(x, float) - fn
            Yw = np.asarray(y, float) - fe
        r = np.sqrt(Xs * Xs + Yw * Yw)
        th = np.arctan2(Yw, Xs)
        D_ = th / n
        T_ = 2 * (np.arctan((r0 / r) ** (1 / n) * tan_p1) - np.pi / 4)
        U = np.arcsin(np.cos(az) * np.sin(T_)
                      - np.sin(az) * np.cos(T_) * np.cos(D_))
        V = np.arcsin(np.cos(T_) * np.sin(D_) / np.cos(U))
        lam = l0 - V / B_
        phi = U
        for _ in range(8):
            es = e * np.sin(phi)
            phi = 2 * (np.arctan(np.tan(U / 2 + np.pi / 4) ** (1 / B_)
                                 * ((1 + es) / (1 - es)) ** (e / 2)
                                 / t0 ** (1 / B_))
                       - np.pi / 4)
        return np.degrees(lam), np.degrees(phi)

    return fwd, inv


def robinson_projection(lon0: float = 0.0, fe: float = 0.0, fn: float = 0.0,
                        a: float = R_WGS84):
    lam0 = np.radians(lon0)

    def fwd(lon, lat):
        la = np.abs(np.clip(np.asarray(lat, float), -90, 90))
        sgn = np.sign(np.asarray(lat, float) + 0.0)
        sgn = np.where(sgn == 0, 1.0, sgn)
        X = _ROB_X_EV(la)
        Y = _ROB_Y_EV(la)
        x = fe + 0.8487 * a * X * (np.radians(np.asarray(lon, float)) - lam0)
        y = fn + 1.3523 * a * Y * sgn
        return x, y

    def inv(x, y):
        yy = (np.asarray(y, float) - fn) / (1.3523 * a)
        sgn = np.where(yy < 0, -1.0, 1.0)
        target = np.abs(yy)
        la = np.clip(target * 90.0, 0.0, 90.0)  # init: Y roughly linear
        for _ in range(25):  # Newton on the Y spline (monotone)
            f = _ROB_Y_EV(la) - target
            df = _ROB_Y_DV(la)
            la = np.clip(la - f / df, 0.0, 90.0)
        X = _ROB_X_EV(la)
        lon = np.degrees(lam0 + (np.asarray(x, float) - fe)
                         / (0.8487 * a * X))
        return lon, sgn * la

    return fwd, inv


_LAEA_EUROPE = _laea(52.0, 10.0, 4321000.0, 3210000.0)
_CONUS_ALBERS = _albers(29.5, 45.5, 23.0, -96.0, 0.0, 0.0)

for _geo in ("EPSG:4326", "OGC:CRS84", "EPSG:4258", "EPSG:4269"):
    _TRANSFORMS[(_geo, "EPSG:3395")] = _merc_fwd
    _TRANSFORMS[("EPSG:3395", _geo)] = _merc_inv
    _TRANSFORMS[(_geo, "EPSG:3035")] = _LAEA_EUROPE[0]
    _TRANSFORMS[("EPSG:3035", _geo)] = _LAEA_EUROPE[1]
    _TRANSFORMS[(_geo, "EPSG:5070")] = _CONUS_ALBERS[0]
    _TRANSFORMS[("EPSG:5070", _geo)] = _CONUS_ALBERS[1]


def _parse_utm(crs: str):
    """EPSG:326xx (north) / EPSG:327xx (south) → (zone, south)."""
    if not crs.startswith("EPSG:"):
        return None
    try:
        code = int(crs.split(":")[1])
    except ValueError:
        return None
    if 32601 <= code <= 32660:
        return code - 32600, False
    if 32701 <= code <= 32760:
        return code - 32700, True
    return None


def _resolve_side(crs):
    """→ ('geographic', None) or ('projected', (fwd, inv)) or None.
    Dispatches arbitrary inputs (codes, WKT1/WKT2, PROJJSON) onto the
    closed-form families via crs_input.transform_from_projjson."""
    from geoio_jl_spark.functions.crs_input import (
        is_geographic_doc, transform_from_projjson)
    if isinstance(crs, dict):
        # CF grid-mapping descriptor (cfgrid.gm_to_crs output) — lets a
        # NetCDF-loaded orthographic/sinusoidal grid warp directly
        from geoio_jl_spark.functions.cfgrid import (
            DESC_TYPES, transform_from_descriptor)
        if crs.get("type") in DESC_TYPES:
            return transform_from_descriptor(crs)
    if isinstance(crs, str):
        utm = _parse_utm(crs)
        if utm is not None:
            zone, south = utm
            return ("projected", tm_projection(
                0.0, zone * 6.0 - 183.0, 0.9996, 500000.0,
                10000000.0 if south else 0.0))
        if crs in ("ESRI:54030", "EPSG:54030"):  # World Robinson
            return ("projected", robinson_projection())
    doc = _doc_for(crs)
    if doc is None:
        return None
    if is_geographic_doc(doc):
        return ("geographic", None)
    if doc.get("type") == "ProjectedCRS":
        return ("projected", transform_from_projjson(doc))
    return None


def get_transform(src, dst):
    """(src, dst) CRS inputs → vectorized (x, y) transform.

    Fast paths first (registered pairs, UTM codes), then general
    resolution: geographic→projected = forward, projected→geographic =
    inverse, projected→projected = inverse ∘ forward.  Datum shifts are
    identity (no PROJ grids in this environment; the reference reaches
    them through PROJ, gi.jl:63-68)."""
    if src == dst:
        return lambda a, b: (a, b)
    if isinstance(src, str) and isinstance(dst, str):
        fn = _TRANSFORMS.get((src, dst))
        if fn is not None:
            return fn
    rs, rd = _resolve_side(src), _resolve_side(dst)
    if rs is not None and rd is not None:
        if rs[0] == "geographic" and rd[0] == "geographic":
            return lambda a, b: (a, b)
        if rs[0] == "geographic":
            return rd[1][0]
        if rd[0] == "geographic":
            return rs[1][1]
        s_inv, d_fwd = rs[1][1], rd[1][0]

        def chained(x, y):
            lon, lat = s_inv(x, y)
            return d_fwd(lon, lat)

        return chained
    raise ValueError(f"no transform registered for {src} -> {dst}")


# ---------------------------------------------------------------------------
# Spark column expressions (codegen path for point columns)
# ---------------------------------------------------------------------------

def lonlat_to_webmercator_cols(lon: Column, lat: Column) -> tuple[Column, Column]:
    lat_c = F.least(F.greatest(lat, F.lit(-89.9999)), F.lit(89.9999))
    x = F.lit(R_WGS84) * F.radians(lon)
    y = F.lit(R_WGS84) * F.log(F.tan(F.lit(np.pi / 4.0) + F.radians(lat_c) / 2))
    return x, y


def webmercator_to_lonlat_cols(x: Column, y: Column) -> tuple[Column, Column]:
    lon = F.degrees(x / F.lit(R_WGS84))
    lat = F.degrees(F.atan(F.exp(y / F.lit(R_WGS84))) * 2 - F.lit(np.pi / 2.0))
    return lon, lat


# (src, dst) pairs whose transform exists as PURE column arithmetic —
# operators that transform point columns (e.g. raster warp) check this
# registry first so the hot path stays inside whole-stage codegen with
# no Python crossing at all
COLUMN_TRANSFORMS = {
    ("EPSG:4326", "EPSG:3857"): lonlat_to_webmercator_cols,
    ("OGC:CRS84", "EPSG:3857"): lonlat_to_webmercator_cols,
    ("EPSG:3857", "EPSG:4326"): webmercator_to_lonlat_cols,
    ("EPSG:3857", "OGC:CRS84"): webmercator_to_lonlat_cols,
}


# ---------------------------------------------------------------------------
# WKB geometry transform (Arrow-batched, full geometry support)
# ---------------------------------------------------------------------------

def transform_geom(g: W.Geom, fn) -> W.Geom:
    if g.geoms and len(g.coords) == 0:  # collection
        return W.Geom(g.kind, g.dim, g.coords, rings=g.rings, parts=g.parts,
                      geoms=[transform_geom(c, fn) for c in g.geoms])
    x, y = fn(g.coords[:, 0], g.coords[:, 1])
    coords = g.coords.copy()
    coords[:, 0] = x
    coords[:, 1] = y
    return W.Geom(g.kind, g.dim, coords, rings=g.rings, parts=g.parts,
                  geoms=[transform_geom(c, fn) for c in g.geoms])


def transform_wkb_udf(src: str, dst: str):
    from pyspark.sql import SparkSession

    from geoio_jl_spark.shipping import ensure_pyfiles
    active = SparkSession.getActiveSession()
    if active is not None:
        ensure_pyfiles(active)
    fn = get_transform(src, dst)

    @F.pandas_udf(BinaryType())
    def _udf(wkbs: pd.Series) -> pd.Series:
        def conv(b):
            if b is None:
                return None
            return W.encode_wkb(transform_geom(W.decode_wkb(bytes(b)), fn))
        return wkbs.apply(conv)

    return _udf


# affine grid pipeline (GeoTIFF F16: apply A,b then reinterpret CRS)
def affine_cols(i: Column, j: Column, A: tuple, b: tuple) -> tuple[Column, Column]:
    """x' = A00*i + A01*j + b0 ; y' = A10*i + A11*j + b1 (geotiff.jl:128-148)."""
    x = F.lit(float(A[0][0])) * i + F.lit(float(A[0][1])) * j + F.lit(float(b[0]))
    y = F.lit(float(A[1][0])) * i + F.lit(float(A[1][1])) * j + F.lit(float(b[1]))
    return x, y

"""Geographic parsing + classification operators (SURVEY.md §2 F14/F18).

Pure Column expressions throughout — these run in the scan's codegen
stage with zero Python, so they cost nothing extra at 100 TB.

Reference parity anchors:
- ``parse_geo_loc_name`` — "Country: State, Locality" parse with the
  US-state smart-ordering disambiguation ("USA: Central City, Nebraska"
  is city-first, "USA: Wisconsin, Lake Mendota" is state-first):
  ``/root/reference/biosample_enricher/metrics/evaluator.py:348-460``
  (50-state set at 369-420, ordering swap at 431-444).
- ``us_region_class`` — all 9 US bounding boxes including the Aleutian
  antimeridian wrap (``lon >= 172.0 or lon <= -129.0``):
  ``/root/reference/biosample_enricher/elevation/classifier.py:104-172``
  (wrap at 145-149).
- ``land_ocean_class`` — the land/ocean heuristic with its early-return
  Pacific special case: ``classifier.py:174-244``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..spec import STRIP_WHITESPACE


def _strip(c: Column) -> Column:
    """Whitespace strip matching the reference's ``str.strip()`` — the
    full ``spec.STRIP_WHITESPACE`` class, not ``F.trim``'s 0x20-only
    (same strip class as the span checks in constraints/udf.py)."""
    return F.btrim(c, F.lit(STRIP_WHITESPACE))

# The reference's 50-state set (evaluator.py:369-420).
US_STATES: tuple[str, ...] = (
    "Alabama", "Alaska", "Arizona", "Arkansas", "California", "Colorado",
    "Connecticut", "Delaware", "Florida", "Georgia", "Hawaii", "Idaho",
    "Illinois", "Indiana", "Iowa", "Kansas", "Kentucky", "Louisiana",
    "Maine", "Maryland", "Massachusetts", "Michigan", "Minnesota",
    "Mississippi", "Missouri", "Montana", "Nebraska", "Nevada",
    "New Hampshire", "New Jersey", "New Mexico", "New York",
    "North Carolina", "North Dakota", "Ohio", "Oklahoma", "Oregon",
    "Pennsylvania", "Rhode Island", "South Carolina", "South Dakota",
    "Tennessee", "Texas", "Utah", "Vermont", "Virginia", "Washington",
    "West Virginia", "Wisconsin", "Wyoming",
)

# The no-colon branch's country whitelist (evaluator.py:455).
_BARE_COUNTRIES = ("USA", "CANADA", "MEXICO")


def parse_geo_loc_name(geo: Column) -> Column:
    """Parse a geo_loc_name into ``struct<country, state, locality>``.

    Exact Column re-expression of ``_parse_geo_loc_name``
    (evaluator.py:348-460):

    - ``"Country: rest"`` → country = trimmed prefix.
    - rest with a comma → first two trimmed parts; for USA, if the
      SECOND part is one of the 50 states the order is city-first
      (GOLD pattern) and is swapped; otherwise state-first (NMDC).
      Either part empty → neither state nor locality is set.
    - rest without a comma → state = trimmed rest (if nonempty).
    - no colon → trimmed whole string is a country if it upcases to
      USA/CANADA/MEXICO, else a locality; empty/null → all null.
    """
    has_colon = geo.contains(":")
    country_part = _strip(F.substring_index(geo, ":", 1))
    # everything after the FIRST colon (split limit 2 keeps later
    # colons); F.get → NULL when there is no colon (ANSI-safe)
    rest = F.get(F.split(geo, ":", 2), 1)
    has_comma = rest.contains(",")
    parts = F.transform(F.split(rest, ",", -1), lambda p: _strip(p))
    # F.get is out-of-bounds-null regardless of ANSI mode (element_at
    # would throw under spark.sql.ansi.enabled on a 1-part rest)
    p0 = F.get(parts, 0)
    p1 = F.get(parts, 1)
    two_ok = has_comma & (p0 != "") & (p1 != "")
    is_usa = F.upper(country_part) == "USA"
    p1_is_state = p1.isin(*US_STATES)

    bare = _strip(geo)
    bare_is_country = F.upper(bare).isin(*_BARE_COUNTRIES)

    country = (
        F.when(has_colon, country_part)
        .when((bare != "") & bare_is_country, bare)
        .otherwise(F.lit(None).cast("string"))
    )
    state = (
        F.when(
            has_colon & two_ok,
            F.when(is_usa & p1_is_state, p1).otherwise(p0),
        )
        .when(has_colon & ~has_comma & (_strip(rest) != ""), _strip(rest))
        .otherwise(F.lit(None).cast("string"))
    )
    locality = (
        F.when(
            has_colon & two_ok,
            F.when(is_usa & p1_is_state, p0).otherwise(p1),
        )
        .when(~has_colon & (bare != "") & ~bare_is_country, bare)
        .otherwise(F.lit(None).cast("string"))
    )
    return F.struct(
        country.alias("country"), state.alias("state"), locality.alias("locality")
    )


def us_region_class(lat: Column, lon: Column) -> Column:
    """US region code (CONUS/AK/HI/PR/VI/GU/AS/MP) or OTHER, checked in
    the reference's order with its exact bounds (classifier.py:104-172).
    AK includes the Aleutian band crossing the 180° meridian."""
    ak = (lat.between(54.0, 71.5) & lon.between(-180.0, -129.0)) | (
        lat.between(51.0, 55.5) & ((lon >= 172.0) | (lon <= -129.0))
    )
    return (
        F.when(
            lat.between(24.396308, 49.384358) & lon.between(-125.0, -66.93457),
            "CONUS",
        )
        .when(ak, "AK")
        .when(lat.between(18.0, 22.5) & lon.between(-161.0, -154.0), "HI")
        .when(lat.between(17.8, 18.6) & lon.between(-67.5, -65.0), "PR")
        .when(lat.between(17.6, 18.5) & lon.between(-65.2, -64.5), "VI")
        .when(lat.between(13.2, 13.7) & lon.between(144.6, 145.0), "GU")
        .when(lat.between(-14.7, -14.0) & lon.between(-171.2, -169.4), "AS")
        .when(lat.between(14.0, 20.6) & lon.between(144.8, 146.1), "MP")
        .otherwise("OTHER")
    )


def land_ocean_class(lat: Column, lon: Column) -> Column:
    """'ocean' / 'land' / 'uncertain' per the reference heuristic
    (classifier.py:174-244). The central-Pacific box EARLY-RETURNS —
    a point there with lon > -130 is NOT ocean even if a later box
    would match — so it is one when-branch, not a plain OR."""
    is_ocean = (
        F.when(lat.between(-30, 30) & lon.between(-180, -120), lon <= -130)
        .when(lat.between(-40, 40) & lon.between(-50, -10), F.lit(True))
        .when(lat < -60, F.lit(True))
        .otherwise(lat.between(-30, 10) & lon.between(60, 90))
    )
    is_land = (
        (lat.between(30, 60) & lon.between(-120, -75))
        | (lat.between(-40, 10) & lon.between(-75, -35))
        | (lat.between(-30, 30) & lon.between(10, 45))
        | (lat.between(35, 65) & lon.between(-5, 40))
        | (lat.between(20, 65) & lon.between(60, 140))
        | (lat.between(-40, -15) & lon.between(115, 150))
    )
    return (
        F.when(is_ocean, "ocean").when(is_land, "land").otherwise("uncertain")
    )


def grid_near_join(
    pts_a,  # DataFrame (id, x, y) — integer coords, any sign
    pts_b,  # DataFrame (id, x, y) — same units
    radius: int,
):
    """Radius near-join via grid-cell bucketing — the spatial join
    that never goes all-pairs.

    Both point sets are assigned to square cells of side ``radius``
    (``cell = (coord - pmod(coord, radius)) div radius`` — exact
    integer FLOOR division for coordinates of either sign: pmod is
    always in [0, radius), so the subtraction lands on the greatest
    multiple of radius ≤ coord and the ``div`` of an exact multiple
    is exact; a plain ``div`` truncates toward zero and mis-cells
    negative coordinates, and float division is deliberately avoided
    because a 1-ulp boundary flip could widen the cell gap of
    a qualifying pair beyond the 3x3 neighborhood). Side A is
    exploded into its cell plus the 8 neighbors, then hash-equi-joined
    to B on the cell key and verified with the EXACT integer predicate
    ``dx*dx + dy*dy <= radius*radius`` — zero float anywhere.

    Losslessness: if ``dx*dx + dy*dy <= r*r`` then ``|dx| <= r`` and
    ``|dy| <= r``, so the cell indices differ by at most 1 per axis —
    every qualifying pair meets in A's 3x3 neighborhood. The
    candidate set is exactly the cell-cooccurring pairs: at 100 TB the
    shuffle is bounded by 9x|A| + |B| rows hashed on cell keys and
    the verify runs inside the join's codegen stage; no
    CartesianProduct appears in the plan (pinned in
    tests/test_r5h_ops.py). Skewed cells (urban hot spots) are the
    j10 salting case; the cell key composes with a salt column
    unchanged.

    Returns (id_a, id_b, d2) with ``d2`` the exact squared distance.
    Overflow bound: coords < ~2^31 keep dx*dx + dy*dy inside BIGINT.

    Reference analog: the point-in-bbox / nearest-region
    classification of elevation/classifier.py:104-172, lifted from
    per-row box tests to a two-sided distributed near-join.
    """
    if radius < 1:
        # ValueError, not a mid-job ANSI error: radius 0 makes
        # pmod(c, 0) fail (or NULL) inside every task (ADVICE r5)
        raise ValueError(f"radius must be >= 1, got {radius}")
    r2 = radius * radius

    def cell(c: str) -> Column:
        # the bigint cast also protects the distance arithmetic below:
        # int32 inputs would compute dx*dx in int and wrap silently in
        # non-ANSI mode (ADVICE r5); long keeps coords < ~2^31 exact
        return F.expr(
            f"(cast({c} as bigint) - pmod(cast({c} as bigint), {radius}))"
            f" div {radius}"
        )

    a = pts_a.select(
        F.col("id").alias("id_a"),
        F.col("x").cast("long").alias("xa"),
        F.col("y").cast("long").alias("ya"),
        cell("x").alias("ca_x"),
        cell("y").alias("ca_y"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("ox"), F.lit(dy).alias("oy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    a9 = a.select(
        "id_a",
        "xa",
        "ya",
        F.explode(offsets).alias("o"),
        "ca_x",
        "ca_y",
    ).select(
        "id_a",
        "xa",
        "ya",
        (F.col("ca_x") + F.col("o.ox")).alias("cx"),
        (F.col("ca_y") + F.col("o.oy")).alias("cy"),
    )
    b = pts_b.select(
        F.col("id").alias("id_b"),
        F.col("x").cast("long").alias("xb"),
        F.col("y").cast("long").alias("yb"),
        cell("x").alias("cx"),
        cell("y").alias("cy"),
    )
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    d2 = dx * dx + dy * dy
    return (
        a9.join(b, ["cx", "cy"])
        .where(d2 <= F.lit(r2))
        .select("id_a", "id_b", d2.alias("d2"))
    )

"""Row-validation operators P1-P11 (SURVEY.md §2.2) as vectorized column expressions.

The reference validates row-by-row in Python (reference: backend/core/
validation_helpers.py:124-165) producing an *error list* per row — invalid rows are KEPT
with populated ``errors``; valid rows proceed to enrichment ("filter-that-annotates").
Here every predicate is a Catalyst column expression (whole-stage codegen, no Python),
and the error list is assembled with ``concat_ws('; ', ...)`` which mirrors the
reference's ``'; '.join`` (backend/routers/catchment.py:360) because it skips nulls.

Reproduced quirks (bit-for-bit semantics, each pinned by a test):
- ``str(NaN) == 'nan'``: a *missing* (null) id cell passes ID validation as the literal
  string 'nan' (pandas reads empty CSV cells as NaN; the reference stringifies before
  checking — validation_helpers.py:137).  Empty *string* cells still fail.
- the whitespace check runs on the already-stripped value, so it can never fire
  (validation_helpers.py:50 after :133-136) — we keep the expression for parity.
- decimal-count is a *string* test on the text after the last '.', not a digit count
  (validation_helpers.py:26-29): '28.5065e2' passes (5 chars after '.').
- 4-dp rounding is ``float(f"{v:.4f}")`` — correct rounding of the exact binary value
  (validation_helpers.py:153-154).  NO Spark builtin matches it at decimal-text ties
  (``bround`` is HALF_EVEN and ``format_string('%f')`` HALF_UP, both on the *shortest
  decimal repr*, e.g. "12.34565" -> 12.3456 in Python but 12.3457 via %f), so the two
  rounded columns go through one Arrow-vectorized pandas UDF using C-printf semantics
  (``'%.4f' %`` == Python f-string == DuckDB printf).  Every predicate stays in
  whole-stage codegen; this is the single Python touchpoint of the validation operator.
- drive_distance wins when valid, but an *invalid* present distance still lets a valid
  drive_time be used — with both error and value recorded
  (validation_helpers.py:96-121).
- numeric parse is ``float(str(v).strip())`` -> Spark ``cast(trim(x) as double)`` (null
  on junk, same contract); chosen magnitude is truncated to int (:106, :119).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geojson_utility_spark.schemas import REQUIRED_LOCATION_COLUMNS

GPS_ERROR = (
    "location_gps must be a string with two comma-separated floats, "
    "each with at least 4 decimals, valid range."
)
ID_REGEX = r"^[\w\.\-@/]+$"


@F.pandas_udf(T.DoubleType())
def round4_udf(s: pd.Series) -> pd.Series:
    """Exact-parity 4-dp round: float(f"{v:.4f}") semantics, vectorized via np.char.mod
    (C printf correct rounding — identical to Python's float formatting)."""
    arr = s.to_numpy(dtype=np.float64, na_value=np.nan)
    out = np.full(arr.shape, np.nan)
    mask = ~np.isnan(arr)
    if mask.any():
        out[mask] = np.char.mod("%.4f", arr[mask]).astype(np.float64)
    return pd.Series(out)


def normalize_headers(df: DataFrame) -> DataFrame:
    """P1: whitespace-stripped column names (reference: catchment.py:149)."""
    return df.toDF(*[c.strip() for c in df.columns])


def missing_required_columns(df: DataFrame) -> list[str]:
    """P2: set-difference check (reference: catchment.py:175-177)."""
    return sorted(REQUIRED_LOCATION_COLUMNS - set(df.columns))


def required_columns_error(missing: list[str]) -> str:
    # exact message shape of catchment.py:186
    return f"Missing required columns: {', '.join(sorted(missing))}"


def duplicate_rows(df: DataFrame) -> DataFrame:
    """P4: full-row duplicate groups (reference rejects the whole file when any)."""
    return df.groupBy(*df.columns).count().filter(F.col("count") > 1)


def duplicate_location_ids(df: DataFrame) -> DataFrame:
    """P5: duplicated location_id values with their counts."""
    return (
        df.groupBy("location_id").count().filter(F.col("count") > 1)
    )


def _stringified(c: Column) -> Column:
    """The reference's ``str(row[col]).strip()``: null -> 'nan' (pandas NaN), then strip."""
    return F.trim(F.coalesce(c.cast("string"), F.lit("nan")))


def _id_error(col_name: str) -> Column:
    v = _stringified(F.col(col_name))
    return (
        F.when(F.length(v) == 0, F.lit(f"{col_name} must be a non-empty string."))
        .when(F.length(v) > 255, F.lit(f"{col_name} must be at most 255 characters."))
        .when(~v.rlike(ID_REGEX), F.lit(f"{col_name} contains invalid characters."))
        # whitespace check on the already-stripped value — always passes (parity quirk)
        .when(F.trim(v) != v, F.lit(f"{col_name} must not have leading/trailing whitespace."))
    )


def _present(c: Column) -> Column:
    """is_present: not null/NaN and stripped != '' (validation_helpers.py:77-79)."""
    return c.isNotNull() & (F.trim(c.cast("string")) != "")


def _gps_parts() -> tuple[Column, Column]:
    gps = _stringified(F.col("location_gps"))
    return (
        F.trim(F.element_at(F.split(gps, ",", -1), 1)),
        F.when(F.size(F.split(gps, ",", -1)) >= 2, F.trim(F.element_at(F.split(gps, ",", -1), 2))),
    )


def _gps_valid() -> Column:
    gps = _stringified(F.col("location_gps"))
    parts = F.split(gps, ",", -1)
    lat_s, lon_s = _gps_parts()
    lat_d = lat_s.try_cast("double")
    lon_d = lon_s.try_cast("double")
    # decimal-count: chars after the LAST '.' (string test, validation_helpers.py:26-29)
    lat_dec_ok = lat_s.contains(".") & (
        F.length(F.substring_index(lat_s, ".", -1)) >= 4
    )
    lon_dec_ok = lon_s.isNotNull() & lon_s.contains(".") & (
        F.length(F.substring_index(lon_s, ".", -1)) >= 4
    )
    return (
        (F.size(parts) == 2)
        & lat_d.isNotNull()
        & lon_d.isNotNull()
        & ~F.isnan(lat_d)
        & ~F.isnan(lon_d)
        & lat_dec_ok
        & lon_dec_ok
        & lat_d.between(-90, 90)
        & lon_d.between(-180, 180)
    )


def validate_locations(df: DataFrame) -> DataFrame:
    """The full per-row validation projection -> adds columns:

    ``errors`` (''-joined, '' when valid), ``lat``/``lon`` (4-dp bround, null when gps
    invalid), ``catchment_type`` ('drive_distance'|'drive_time'|null) and ``magnitude``
    (int, truncated) implementing the P11 precedence CASE, and ``row_idx`` preserving
    input order (W3 — the reference writes results back by original index).
    """
    df = df.withColumn("row_idx", F.monotonically_increasing_id())

    lat_s, lon_s = _gps_parts()
    gps_ok = _gps_valid()
    lat = F.when(gps_ok, round4_udf(lat_s.try_cast("double")))
    lon = F.when(gps_ok, round4_udf(lon_s.try_cast("double")))

    dist_c = F.col("drive_distance")
    time_c = F.col("drive_time")
    dist_present = _present(dist_c)
    time_present = _present(time_c)
    dist_num = F.trim(dist_c.cast("string")).try_cast("double")
    time_num = F.trim(time_c.cast("string")).try_cast("double")
    dist_parsed = dist_present & dist_num.isNotNull() & ~F.isnan(dist_num)
    time_parsed = time_present & time_num.isNotNull() & ~F.isnan(time_num)
    use_dist = dist_parsed & (dist_num > 0) & (dist_num <= 100000)
    use_time = ~use_dist & time_parsed & (time_num > 0) & (time_num <= 10000)

    # error expressions in the reference's exact emission order
    err_cols = [
        _id_error("snp_id"),
        _id_error("provider_id"),
        _id_error("location_id"),
        F.when(~gps_ok, F.lit(GPS_ERROR)),
        # post-round range re-checks (validation_helpers.py:156-159)
        F.when(gps_ok & ~lat.between(-90, 90),
               F.lit("latitude in location_gps must be between -90 and 90.")),
        F.when(gps_ok & ~lon.between(-180, 180),
               F.lit("longitude in location_gps must be between -180 and 180.")),
        F.when(~dist_present & ~time_present,
               F.lit("Either drive_distance or drive_time must be provided and non-empty.")),
        F.when(dist_present & ~dist_parsed,
               F.lit("drive_distance must be a valid number if present.")),
        F.when(dist_parsed & (dist_num <= 0),
               F.lit("drive_distance must be a positive number.")),
        F.when(dist_parsed & (dist_num > 100000),
               F.lit("drive_distance is unreasonably large.")),
        F.when(~use_dist & time_present & ~time_parsed,
               F.lit("drive_time must be a valid number if present.")),
        F.when(~use_dist & time_parsed & (time_num <= 0),
               F.lit("drive_time must be a positive number.")),
        F.when(~use_dist & time_parsed & (time_num > 10000),
               F.lit("drive_time is unreasonably large.")),
    ]

    return (
        df.withColumn("lat", lat)
        .withColumn("lon", lon)
        .withColumn(
            "catchment_type",
            F.when(use_dist, F.lit("drive_distance")).when(use_time, F.lit("drive_time")),
        )
        .withColumn(
            "magnitude",
            F.when(use_dist, dist_num.cast("int")).when(use_time, time_num.cast("int")),
        )
        .withColumn("errors", F.concat_ws("; ", *err_cols))
    )


def reject_file_errors(df: DataFrame) -> list[str]:
    """File-level guards P2/P4/P5 -> list of file-level error strings (driver-side
    pre-flight, mirrors reference catchment.py:175-202; empty list = admissible)."""
    errors: list[str] = []
    missing = missing_required_columns(df)
    if missing:
        errors.append(required_columns_error(missing))
        return errors  # reference returns 400 before the duplicate checks
    if duplicate_rows(df).limit(1).count() > 0:
        errors.append("Duplicate rows found in CSV file.")
    dup_ids = [r["location_id"] for r in duplicate_location_ids(df).collect()]
    if dup_ids:
        errors.append(
            "Duplicate location_id values found: " + ", ".join(sorted(map(str, dup_ids)))
        )
    return errors

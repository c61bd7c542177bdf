"""Scalar transforms (SURVEY §2.3 P3-P13) as composable Column helpers.

All money rounding uses the reference's own formula
`Math.round(x*100D)/100D` (reference scala/…/dws/OrderWiderApp.scala:186)
= floor(x*100 + 0.5)/100 — expressed with the same IEEE double ops in
both Spark and the DuckDB oracle so results are bit-identical. (We do
NOT reproduce the reference's integer-division bug on the last
allocation row, OrderWiderApp.scala:183 — documented divergence, see
SURVEY §7.4.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# DuckDB-side template of round2 (kept adjacent so the two can't drift).
ROUND2_SQL = "floor(({x}) * 100 + 0.5) / 100"


def round2(col: Column | str) -> Column:
    """2-decimal half-up rounding, bit-compatible with Java Math.round.

    Parity: reference scala/…/dws/OrderWiderApp.scala:186.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)


def round9(col: Column | str) -> Column:
    """9-decimal half-up rounding, floor(x*1e9 + 0.5)/1e9 — the one
    quantization every non-money double output takes, written as the
    same IEEE double ops as the oracle's SQL twin so the two engines
    agree bit for bit (it also absorbs summation-order differences of
    a few ulps). Rounding an already rounded value returns it
    unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)


def derive_date_hour_from_ts(ts: Column | str) -> tuple[Column, Column]:
    """Epoch/timestamp → (dt 'yyyy-MM-dd', hr 'HH').

    Parity: reference scala/…/app/Dau.scala:62-75 (SimpleDateFormat
    split of epoch-ms `ts`).
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_format(c, "yyyy-MM-dd"), F.date_format(c, "HH")


def derive_date_hour_from_string(create_time: Column | str) -> tuple[Column, Column]:
    """'yyyy-MM-dd HH:mm:ss' string → (create_date, create_hour).

    Parity: reference scala/…/dwd/Ods_to_DWD_order_info.scala:59-64
    (`create_time.split(" ")` then split(":")).
    """
    c = F.col(create_time) if isinstance(create_time, str) else create_time
    parts = F.split(c, " ")
    return parts.getItem(0), F.split(parts.getItem(1), ":").getItem(0)


def bucket_label(
    value: Column | str,
    low: float = 20.0,
    high: float = 30.0,
    labels: tuple[str, str, str] = ("20岁及以下", "21岁到30岁", "30岁以上"),
) -> Column:
    """Three-way bucket with the reference's boundary quirk: strict
    `< low` / `> high`, so values exactly at the boundaries land in the
    middle bucket despite the labels.

    Parity: reference scala/…/dim/User_info_APP.scala:54-65 (age
    bucketing; `if (age < 20) … else if (age > 30) …`).
    """
    c = F.col(value) if isinstance(value, str) else value
    return (
        F.when(c < F.lit(low), F.lit(labels[0]))
        .when(c > F.lit(high), F.lit(labels[2]))
        .otherwise(F.lit(labels[1]))
    )


def gender_decode(gender: Column | str) -> Column:
    """'M' → '男' else '女'.

    Parity: reference scala/…/dim/User_info_APP.scala:66-70.
    """
    c = F.col(gender) if isinstance(gender, str) else gender
    return F.when(c == "M", F.lit("男")).otherwise(F.lit("女"))


def status_decode(status: Column | str, mapping: dict[str, str], default: str) -> Column:
    """Generic small-domain code → label decode (the when/otherwise
    shape of P5/P6 generalized)."""
    c = F.col(status) if isinstance(status, str) else status
    out: Column | None = None
    for k, v in mapping.items():
        out = F.when(c == k, F.lit(v)) if out is None else out.when(c == k, F.lit(v))
    assert out is not None
    return out.otherwise(F.lit(default))

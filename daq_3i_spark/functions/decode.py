"""Register decode — MODBUS register words -> typed numeric value.

Re-implements the reference's 14 format codes (/root/reference/modbus.py:11-24,
58-166) with the bugs fixed (SURVEY.md §2.9):

* correct register counts per format (the reference's FORMAT_LENGTH maps most
  formats to their own enum value — modbus.py:26-29),
* the six formats whose decode branches are ``pass`` in the reference
  (SKIP2, UINT32_RWORDS, FLOAT_SKIP2, FLOAT_RBYTES, FLOAT_RWORDS,
  FLOAT_RSKIP2 — modbus.py:135-154) are implemented properly,
* ABB_REAL32_S gets the sign extension the reference's dead helper
  (buscommon.py:12-19) was meant to apply.

Defined semantics (a register is one uint16 word; byte order within a word is
big-endian on the wire):

  code  name              regs  assembly of the 32-bit payload
  ----  ----------------  ----  -----------------------------------------
   0    SINT16              1   r0 as signed 16-bit
   1    SINT32              2   (r1<<16)|r0 signed      (word order little)
   2    SINT32_RWORDS       2   (r0<<16)|r1 signed      (word order big)
   3    SKIP2               3   (r2<<16)|r0 signed      (padding word in the middle)
   4    UINT16              1   r0 unsigned
   5    UINT32              2   (r1<<16)|r0 unsigned
   6    UINT32_RWORDS       2   (r0<<16)|r1 unsigned
   7    FLOAT               2   IEEE-754 binary32 of (r1<<16)|r0
   8    FLOAT_SKIP2         3   IEEE-754 of (r2<<16)|r0
   9    FLOAT_RBYTES        2   IEEE-754 of (bswap(r1)<<16)|bswap(r0)
  10    FLOAT_RWORDS        2   IEEE-754 of (r0<<16)|r1
  11    FLOAT_RSKIP2        3   IEEE-754 of (r0<<16)|r2
  12    ABB_REAL32_U        2   IEEE-754 of (r0<<16)|r1  (ABB word order Big/Big,
                                modbus.py:113-115)
  13    ABB_REAL32_S        2   (r1<<16)|r0 signed — the reference's computed
                                word order (modbus.py:161-163) + sign extension

Inf/NaN float payloads (exponent 255) decode to NULL — keeps the value domain
in clean doubles and makes the DuckDB oracle comparison well-defined.

Three implementations, one semantics:

* :func:`decode_col` — pure Catalyst column expression (bit arithmetic; the
  IEEE-754 decode is done arithmetically: sign/exponent/mantissa extraction +
  exact power-of-two scaling).  Whole-stage-codegen'd, zero Python in the hot
  path — this is the production kernel.
* :func:`decode_pandas_udf` — Arrow-vectorized numpy bit-cast, kept as the
  cross-check / escape hatch.
* :func:`decode_sql_duckdb` — the same arithmetic rendered as DuckDB SQL for
  the correctness oracle.

All power-of-two scalings are exact in IEEE double arithmetic, so the three
implementations agree bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

from daq_3i_spark.session import memo

REG_COUNT = {0: 1, 1: 2, 2: 2, 3: 3, 4: 1, 5: 2, 6: 2, 7: 2, 8: 3, 9: 2, 10: 2, 11: 3, 12: 2, 13: 2}

_TWO_POW_NEG149 = 2.0**-149  # smallest binary32 subnormal step, exact in double
_TWO_POW_NEG23 = 2.0**-23


# --- Spark-native (Catalyst) implementation ----------------------------------


def _sint16(r: Column) -> Column:
    return F.when(r >= 32768, r - 65536).otherwise(r).cast("long")


def _sint32(u: Column) -> Column:
    return F.when(u >= 2147483648, u - 4294967296).otherwise(u)


def _bswap16(r: Column) -> Column:
    return (r.bitwiseAND(F.lit(255)) * 256 + F.shiftright(r, 8)).cast("long")


def _u32(hi: Column, lo: Column) -> Column:
    return hi.cast("long") * 65536 + lo.cast("long")


def _f32_from_u32(u: Column) -> Column:
    """Arithmetic IEEE-754 binary32 decode of an assembled uint32.

    value = (-1)^s * 2^(e-127) * (1 + m/2^23), subnormals e=0 -> m * 2^-149,
    e=255 (Inf/NaN) -> NULL.  Every step multiplies by an exact power of two,
    so the result is bit-identical to a hardware bit-cast.
    """
    s = F.shiftright(u, 31)
    e = F.shiftright(u, 23).bitwiseAND(F.lit(255))
    m = u.bitwiseAND(F.lit(0x7FFFFF))
    sign = (F.lit(1) - s * 2).cast("double")
    return (
        F.when(e == 255, F.lit(None).cast("double"))
        .when(e == 0, sign * m.cast("double") * F.lit(_TWO_POW_NEG149))
        .otherwise(
            sign
            * (F.lit(1.0) + m.cast("double") * F.lit(_TWO_POW_NEG23))
            * F.pow(F.lit(2.0), (e - 127).cast("double"))
        )
    )


def decode_col(format_code: Column, regs: Column) -> Column:
    """Decode ``regs`` (array<int> of uint16 words) per ``format_code``.

    Convenience form over an array column.  NOTE: for hot paths prefer
    :func:`decode_cols` over three *pre-projected* register columns — this
    array form repeats ``element_at`` in every CASE arm, which inflates the
    generated Java past the JVM's 64 KB method limit and silently drops the
    stage out of whole-stage codegen (observed on Spark 4.1).
    """
    return decode_cols(
        format_code, F.element_at(regs, 1), F.element_at(regs, 2), F.element_at(regs, 3)
    )


def decode_cols(format_code: Column, r0: Column, r1: Column, r2: Column) -> Column:
    """Decode from the first three register words as separate int columns.

    Returns a double column; unknown format codes and missing registers
    decode to NULL (the error side-channel — SURVEY.md §2.7
    op_error_handling).  Project r0/r1/r2 with ``withColumn`` first so each
    is computed once as a codegen local rather than inlined per CASE arm.
    """
    # Memo of built columns.  The 14-arm CASE tree costs ~2,900 py4j round
    # trips (~0.4-0.7 s of driver time) to build, and the result is a pure
    # function of the four input EXPRESSIONS — session-free Catalyst AST,
    # safe to reuse across plans (the r18 floor-census construction-cost
    # fix).  It lives on the SparkContext, so a stopped context takes its
    # JVM handles with it.  Keyed on the inputs' expression text so the
    # F.col("r0") and F.get("registers", 0) call sites memoize separately.
    cols = memo(SparkContext._active_spark_context, "_daq_decode_cols")
    key = (str(format_code), str(r0), str(r1), str(r2))
    hit = cols.get(key)
    if hit is not None:
        return hit
    u_lo_hi = _u32(r1, r0)  # word order little (default, modbus.py:61-62)
    u_hi_lo = _u32(r0, r1)  # word order big (RWORDS / ABB)
    u_skip = _u32(r2, r0)  # padding word between the data words
    u_rskip = _u32(r0, r2)
    u_bswap = _u32(_bswap16(r1), _bswap16(r0))

    out = (
        F.when(format_code == 0, _sint16(r0).cast("double"))
        .when(format_code == 1, _sint32(u_lo_hi).cast("double"))
        .when(format_code == 2, _sint32(u_hi_lo).cast("double"))
        .when(format_code == 3, _sint32(u_skip).cast("double"))
        .when(format_code == 4, r0.cast("double"))
        .when(format_code == 5, u_lo_hi.cast("double"))
        .when(format_code == 6, u_hi_lo.cast("double"))
        .when(format_code == 7, _f32_from_u32(u_lo_hi))
        .when(format_code == 8, _f32_from_u32(u_skip))
        .when(format_code == 9, _f32_from_u32(u_bswap))
        .when(format_code == 10, _f32_from_u32(u_hi_lo))
        .when(format_code == 11, _f32_from_u32(u_rskip))
        .when(format_code == 12, _f32_from_u32(u_hi_lo))
        .when(format_code == 13, _sint32(u_lo_hi).cast("double"))
        .otherwise(F.lit(None).cast("double"))
    )
    cols[key] = out
    return out


# --- DuckDB oracle rendering --------------------------------------------------


def decode_sql_duckdb(fmt: str, r0: str, r1: str, r2: str) -> str:
    """Render the identical decode as a DuckDB SQL expression.

    ``fmt``/``r0``/``r1``/``r2`` are SQL expressions for the format code and
    the first three register words (any integer type; widened to BIGINT here).
    """
    r0 = f"CAST({r0} AS BIGINT)"
    r1 = f"CAST({r1} AS BIGINT)"
    r2 = f"CAST({r2} AS BIGINT)"

    def u32(hi: str, lo: str) -> str:
        return f"(({hi}) * 65536 + ({lo}))"

    def sint32(u: str) -> str:
        return f"(CASE WHEN {u} >= 2147483648 THEN {u} - 4294967296 ELSE {u} END)"

    def sint16(r: str) -> str:
        return f"(CASE WHEN ({r}) >= 32768 THEN ({r}) - 65536 ELSE ({r}) END)"

    def bswap(r: str) -> str:
        return f"((({r}) & 255) * 256 + (({r}) // 256))"

    def f32(u: str) -> str:
        s = f"(({u}) // 2147483648)"
        e = f"((({u}) // 8388608) & 255)"
        m = f"(({u}) & 8388607)"
        sign = f"CAST(1 - 2 * {s} AS DOUBLE)"
        return (
            f"(CASE WHEN {e} = 255 THEN NULL "
            f"WHEN {e} = 0 THEN {sign} * CAST({m} AS DOUBLE) * POW(2.0, -149) "
            f"ELSE {sign} * (1.0 + CAST({m} AS DOUBLE) * POW(2.0, -23))"
            f" * POW(2.0, CAST({e} - 127 AS DOUBLE)) END)"
        )

    u_lo_hi = u32(r1, r0)
    u_hi_lo = u32(r0, r1)
    u_skip = u32(r2, r0)
    u_rskip = u32(r0, r2)
    u_bswap = u32(bswap(r1), bswap(r0))

    arms = {
        0: f"CAST({sint16(r0)} AS DOUBLE)",
        1: f"CAST({sint32(u_lo_hi)} AS DOUBLE)",
        2: f"CAST({sint32(u_hi_lo)} AS DOUBLE)",
        3: f"CAST({sint32(u_skip)} AS DOUBLE)",
        4: f"CAST({r0} AS DOUBLE)",
        5: f"CAST({u_lo_hi} AS DOUBLE)",
        6: f"CAST({u_hi_lo} AS DOUBLE)",
        7: f32(u_lo_hi),
        8: f32(u_skip),
        9: f32(u_bswap),
        10: f32(u_hi_lo),
        11: f32(u_rskip),
        12: f32(u_hi_lo),
        13: f"CAST({sint32(u_lo_hi)} AS DOUBLE)",
    }
    whens = " ".join(f"WHEN {code} THEN {expr}" for code, expr in arms.items())
    return f"(CASE ({fmt}) {whens} ELSE NULL END)"


# --- numpy / pandas-UDF implementation (cross-check + escape hatch) ----------


def decode_numpy(format_codes: np.ndarray, regs: list) -> np.ndarray:
    """Vectorized bit-cast decode; ground truth for the golden-vector tests."""
    n = len(format_codes)
    out = np.full(n, np.nan)
    r = np.zeros((n, 3), dtype=np.uint32)
    for i, words in enumerate(regs):
        if words is None:
            continue
        for j, w in enumerate(words[:3]):
            if w is not None:
                r[i, j] = np.uint32(w)
    fc = format_codes
    r0, r1, r2 = r[:, 0], r[:, 1], r[:, 2]

    def bswap(x):
        return ((x & 0xFF) << 8) | (x >> 8)

    u_lo_hi = (r1 << 16) | r0
    u_hi_lo = (r0 << 16) | r1
    u_skip = (r2 << 16) | r0
    u_rskip = (r0 << 16) | r2
    u_bswap = (bswap(r1) << 16) | bswap(r0)

    def f32(u):
        v = u.astype(np.uint32).view(np.float32).astype(np.float64)
        v[~np.isfinite(v)] = np.nan  # Inf/NaN -> NULL
        return v

    out = np.where(fc == 0, r0.astype(np.uint16).astype(np.int16).astype(np.float64), out)
    out = np.where(fc == 1, u_lo_hi.astype(np.int32).astype(np.float64), out)
    out = np.where(fc == 2, u_hi_lo.astype(np.int32).astype(np.float64), out)
    out = np.where(fc == 3, u_skip.astype(np.int32).astype(np.float64), out)
    out = np.where(fc == 4, r0.astype(np.float64), out)
    out = np.where(fc == 5, u_lo_hi.astype(np.float64), out)
    out = np.where(fc == 6, u_hi_lo.astype(np.float64), out)
    out = np.where(fc == 7, f32(u_lo_hi), out)
    out = np.where(fc == 8, f32(u_skip), out)
    out = np.where(fc == 9, f32(u_bswap), out)
    out = np.where(fc == 10, f32(u_hi_lo), out)
    out = np.where(fc == 11, f32(u_rskip), out)
    out = np.where(fc == 12, f32(u_hi_lo), out)
    out = np.where(fc == 13, u_lo_hi.astype(np.int32).astype(np.float64), out)
    return out


from pyspark.sql.types import DoubleType  # noqa: E402


@F.pandas_udf(DoubleType())
def decode_pandas_udf(format_code: pd.Series, regs: pd.Series) -> pd.Series:
    vals = decode_numpy(format_code.to_numpy(), regs.tolist())
    return pd.Series(vals).where(pd.notna(vals), None)

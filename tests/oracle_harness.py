"""Local replica of the driver's DuckDB-oracle differential check.

Stricter than the driver needs to be: values are compared *exactly*
(repr-level for floats), so anything green here should hash-match in
CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import duckdb

from simple_etl_spark.engine import TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def canonicalize(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Sort columns by name (driver semantics), normalize, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _arrow_family(t) -> str:
    """Collapse an Arrow type into the family the driver's value-hash
    distinguishes.  DuckDB HUGEINT surfaces as decimal128(38,0), which
    hashes differently from Spark's int64 even when values are equal
    (the round-1 `count_if` incident) — so decimal vs int vs float must
    not silently coalesce here the way `fetchall()` coalesces them."""
    import pyarrow.types as pt

    if pt.is_integer(t):
        # widths matter: the driver's value-hash distinguishes int32
        # from int64 (the round-2 `row_number` incident) — Spark
        # row_number() is int32, DuckDB's is int64, values identical,
        # hash different. Never collapse integer widths here.
        return f"int{t.bit_width}"
    if pt.is_floating(t):
        return f"float{t.bit_width}"
    if pt.is_decimal(t):
        return "decimal"
    if pt.is_boolean(t):
        return "bool"
    if pt.is_string(t) or pt.is_large_string(t):
        return "str"
    if pt.is_timestamp(t):
        return "timestamp"
    if pt.is_date(t):
        return "date"
    if pt.is_list(t) or pt.is_large_list(t):
        return "list<" + _arrow_family(t.value_type) + ">"
    if pt.is_struct(t):
        return "struct"
    if pt.is_binary(t) or pt.is_large_binary(t):
        return "binary"
    return str(t)


def _spark_family(dt_str: str) -> str:
    """Map a Spark simpleString dtype to the same family space."""
    if dt_str == "tinyint":
        return "int8"
    if dt_str == "smallint":
        return "int16"
    if dt_str == "int":
        return "int32"
    if dt_str == "bigint":
        return "int64"
    if dt_str == "float":
        return "float32"
    if dt_str == "double":
        return "float64"
    if dt_str.startswith("decimal"):
        return "decimal"
    if dt_str == "boolean":
        return "bool"
    if dt_str in ("string", "varchar"):
        return "str"
    if dt_str.startswith("timestamp"):
        return "timestamp"
    if dt_str == "date":
        return "date"
    if dt_str.startswith("array<"):
        return "list<" + _spark_family(dt_str[6:-1]) + ">"
    if dt_str.startswith("struct"):
        return "struct"
    if dt_str == "binary":
        return "binary"
    return dt_str


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> tuple[bool, str]:
    s_rows = spark_df.collect()
    s_cols = spark_df.columns
    d_rel = con.sql(sql)
    d_cols = list(d_rel.columns)
    # Arrow-level fetch: fetchall() converts HUGEINT->int and masks the
    # type skew the driver's hash sees.  Check type families explicitly.
    d_tbl = d_rel.arrow()
    d_rows = [tuple(r.values()) for r in d_tbl.to_pylist()]
    s_types = {f.name: _spark_family(f.dataType.simpleString()) for f in spark_df.schema.fields}
    d_types = {
        n.lower(): _arrow_family(d_tbl.schema.field(i).type)
        for i, n in enumerate(d_cols)
    }
    for name, fam in s_types.items():
        dfam = d_types.get(name, d_types.get(name.lower()))
        if dfam is not None and dfam != fam:
            return False, (
                f"type-family mismatch on '{name}': spark={fam} duck={dfam} "
                "(driver hashes these differently even when values match)"
            )

    if sorted(s_cols) != sorted(c.lower() for c in d_cols) and sorted(
        s_cols
    ) != sorted(d_cols):
        return False, f"column mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"row count: spark={len(s_rows)} duck={len(d_rows)}"
    s = canonicalize(s_cols, [tuple(r) for r in s_rows])
    d = canonicalize(d_cols, d_rows)
    if s != d:
        diffs = [(a, b) for a, b in zip(s, d) if a != b][:3]
        return False, f"value mismatch, first diffs: {diffs}"
    return True, "ok"


# ---------------------------------------------------------------------------
# DuckDB-version canary (r5 verdict #7): every cross-engine numeric
# invariant the oracles rely on, asserted directly against the local
# DuckDB build. If the grading driver ever bumps its DuckDB and one of
# these flips, the canary names the broken contract in minutes instead
# of costing a graded round to ulp forensics.
# ---------------------------------------------------------------------------

def duckdb_invariants() -> list[tuple[str, bool, str]]:
    """Returns (name, holds, detail) per invariant; all must hold."""
    con = duckdb.connect()
    q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    checks = []

    # 1. double→decimal casts round HALF away from zero (money
    #    decimal(9,2); the decimal(12,10) element canonicalization
    #    casts through VARCHAR instead — llm_queries._DUCK_ELEM_DEC)
    checks.append((
        "double->decimal rounds half away from zero",
        str(q("SELECT CAST(CAST(-0.015 AS DOUBLE) AS DECIMAL(9,2))")) == "-0.02"
        and str(q("SELECT CAST(CAST(0.015 AS DOUBLE) AS DECIMAL(9,2))")) == "0.02",
        "winsorized/units_signed contract (note: 0.015·100 is an exact "
        "double half; most literals aren't)",
    ))
    # 2. SUM over a DECIMAL column stays decimal-exact (never a double
    #    accumulator) — the UNNEST+SUM oracle arithmetic rule
    checks.append((
        "sum(decimal) is decimal-typed and exact",
        str(q(
            "SELECT sum(x) FROM (SELECT CAST(0.1 AS DECIMAL(30,20)) AS x "
            "FROM range(10))"
        )) == "1.00000000000000000000",
        "a double accumulator would print 0.9999999999999999",
    ))
    # 3. decimal→decimal scale reduction TRUNCATES in DuckDB (Spark
    #    rounds HALF_UP) — WHY the integral ANN lineage bans such casts
    checks.append((
        "decimal->decimal scale cut truncates",
        str(q(
            "SELECT CAST(CAST(1.0000000015 AS DECIMAL(30,20)) AS DECIMAL(12,9))"
        )) == "1.000000001",
        "if this ever ROUNDS, the ban stays valid (Spark HALF_UP would "
        "then match) but document the change",
    ))
    # 4. hugeint // is floor (≡ truncation on the non-negative operands
    #    the integral ANN key uses)
    checks.append((
        "hugeint // floors positives",
        q("SELECT (CAST(7 AS HUGEINT)*1000000000000) // CAST(3 AS HUGEINT)")
        == 2333333333333,
        "integral ANN sort key: (dp_e9^2 * 10^12) // (n2q*n2c)",
    ))
    # 5. double→bigint CAST rounds in DuckDB (Spark truncates) — WHY
    #    integral exposures use explicit floor(x+0.5), never a cast
    checks.append((
        "double->bigint cast rounds (not truncates)",
        q("SELECT CAST(CAST(1.9 AS DOUBLE) AS BIGINT)") == 2,
        "hll_estimate(integral=True) floor(x+0.5) contract",
    ))
    # 6. decimal(38,0)→double is ONE rounding (scale 0: no 10^-s
    #    divide) — the HLL z-accumulator cast
    checks.append((
        "decimal(38,0)->double single-rounds",
        q("SELECT CAST(CAST(9007199254740993 AS DECIMAL(38,0)) AS DOUBLE)")
        == float(9007199254740992),
        "2^53+1 must round to 2^53 exactly as a correctly-rounded "
        "int->double does",
    ))
    # 7. epoch_ms/date arithmetic: timestamps are microsecond-integral
    checks.append((
        "epoch_ms is exact integer ms",
        q("SELECT epoch_ms(TIMESTAMP '2024-01-01 00:00:00.123')") is not None
        and q("SELECT epoch_ms(TIMESTAMP '2024-01-01 00:00:00.123')")
        == 1704067200123,
        "streaming session oracles (start_ms/end_ms)",
    ))
    # 8. nfc_normalize implements Unicode NFC exactly like Python's
    #    unicodedata (llm_nfc_fingerprint's twin): decomposed e+U+0301
    #    composes to U+00E9; composed text is a fixed point
    checks.append((
        "nfc_normalize matches unicodedata NFC",
        q("SELECT nfc_normalize('cafe' || chr(769)) = 'caf' || chr(233)")
        and q("SELECT nfc_normalize('caf' || chr(233)) = 'caf' || chr(233)"),
        "llm_nfc_fingerprint / normalized_fingerprint contract",
    ))
    return checks

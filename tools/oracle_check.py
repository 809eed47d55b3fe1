"""Local mimic of the driver's correctness gate — driver-strength.

For each declared query: run the Spark DataFrame and the DuckDB oracle
SQL on the same parquet tables, then compare

1. row count,
2. column names,
3. **logical column types** (DuckDB's ``DESCRIBE`` result schema vs
   the Spark schema, canonicalized per family — this is the check
   that would have caught the round-5 HUGEINT/decimal oracle reds
   locally: the driver's value hash is type-sensitive, so a DuckDB
   ``HUGEINT``/``DECIMAL(38,0)`` column — Arrow ``decimal128(38,0)``
   — against a Spark ``bigint`` fails the driver even when every
   value is numerically equal), and
4. the order-insensitive multiset of **exact** values (no rounding —
   every query uses engine-stable integer/decimal arithmetic, so
   exact equality is the contract).  When exact differs but a
   1e-9-rounded compare matches, the report says so: that diagnostic
   means ulp-level float divergence, not a wrong answer, but it still
   FAILS here because it would fail the driver.

Canonicalization: all signed/unsigned integer widths fold to ``int``
(driver-certified by the r8 probe pair), floats fold to ``float``
(driver-certified by the r8 probe), ``string``/``bool``/``date``/
``timestamp``/``binary`` are families, ``T[]`` lists recurse.
HUGEINT is its OWN family (hard fail against everything): the r5
inference that HUGEINT ≡ decimal(38,0) was DISPROVEN by the r7 driver
gate — oracles must cast HUGEINT outputs before the final SELECT.
DECIMAL is FORBIDDEN in output schemas on BOTH sides: the r8 gate
hash-failed ``probe_hash_decimal_precision`` (precision-only mix) AND
all three money queries whose two sides were exactly DECIMAL(38,0) —
no decimal output column has EVER gated green.  Mechanism (verified
locally): DuckDB's pandas transport converts DECIMAL columns to
float64 while Spark's toPandas ships ``decimal.Decimal`` objects, so
the driver's value hash can never agree.  Transport rule: provably
int64-bounded exact integers leave as BIGINT; unbounded ones (corpus-
scale ×10⁴ money totals) leave as the decimal's DIGIT STRING, which
both engines render identically (scale-0 bare digits, scale>0 padded,
``-`` sign, no exponent — pinned by
``probe_hash_decimal_string_transport``).

``DESCRIBE SELECT`` only binds and plans — the type check is free even
for the heavy unrolled-CTE oracles.

Usage:  python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import gc
import math
import os
import re
import sys
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


_DUCK_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
_DECIMAL_RE = re.compile(r"^DECIMAL\((\d+),(\d+)\)$")


def _split_top_level(s: str) -> list[str]:
    """Split on commas not nested inside (), [] or <>, and not inside
    a double-quoted identifier (DuckDB quotes struct field names that
    need it; embedded quotes are doubled)."""
    parts, depth, cur, in_q = [], 0, [], False
    for ch in s:
        if ch == '"':
            in_q = not in_q
        elif not in_q:
            if ch in "([<":
                depth += 1
            elif ch in ")]>":
                depth -= 1
        if ch == "," and depth == 0 and not in_q:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return [p.strip() for p in parts]


def canon_duck(t: str) -> str:
    """Canonical family string for a DuckDB ``DESCRIBE`` column_type.

    MAP/STRUCT recurse into ``map<k,v>`` / ``struct<name:type,...>`` to
    mirror ``canon_spark`` exactly; anything else unknown canonicalizes
    to ``unrecognized:<raw>`` so the compare can surface it as a
    distinct diagnostic instead of a misleading hard TYPES-differ.
    """
    t = t.strip()
    if t.endswith("[]"):
        return f"list<{canon_duck(t[:-2])}>"
    u = t.upper()
    if u in _DUCK_INT:
        return "int"
    if u in ("HUGEINT", "UHUGEINT"):
        # DISTINCT family, never folded: the r7 driver hash-failed raw
        # HUGEINT outputs vs Spark decimal(38,0) (gini/cohort_ltv) even
        # though this mimic's old decimal(s=0) folding called them equal.
        # No Spark type maps here, so any HUGEINT output column fails the
        # type gate loudly — cast it in the oracle's final SELECT.
        return "hugeint"
    m = _DECIMAL_RE.match(u)
    if m:
        return f"decimal(s={m.group(2)})"
    if u in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if u == "BOOLEAN":
        return "bool"
    if u in ("VARCHAR", "TEXT", "STRING"):
        return "string"
    if u == "BLOB":
        return "binary"
    if u == "DATE":
        return "date"
    if u.startswith("TIMESTAMP"):
        return "timestamp"
    if u.startswith("MAP(") and t.endswith(")"):
        kv = _split_top_level(t[4:-1])
        if len(kv) == 2:
            return f"map<{canon_duck(kv[0])},{canon_duck(kv[1])}>"
    if u.startswith("STRUCT(") and t.endswith(")"):
        fields = []
        for f in _split_top_level(t[7:-1]):
            f = f.strip()
            if f.startswith('"'):
                # quoted field name — may contain spaces/commas; DuckDB
                # doubles embedded quotes ("" -> ")
                i, name_chars = 1, []
                while i < len(f):
                    if f[i] == '"':
                        if i + 1 < len(f) and f[i + 1] == '"':
                            name_chars.append('"')
                            i += 2
                            continue
                        i += 1
                        break
                    name_chars.append(f[i])
                    i += 1
                name, ftype = "".join(name_chars), f[i:].strip()
            else:
                name, _, ftype = f.partition(" ")
                name = name.strip()
            fields.append(f"{name}:{canon_duck(ftype)}")
        return f"struct<{','.join(fields)}>"
    return f"unrecognized:{t.lower()}"


def canon_spark(dt) -> str:
    """Canonical family string for a pyspark DataType."""
    from pyspark.sql import types as T

    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return f"decimal(s={dt.scale})"
    if isinstance(dt, (T.StringType, T.VarcharType, T.CharType)):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.ArrayType):
        return f"list<{canon_spark(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return (f"map<{canon_spark(dt.keyType)},"
                f"{canon_spark(dt.valueType)}>")
    if isinstance(dt, T.StructType):
        inner = ",".join(
            f"{f.name}:{canon_spark(f.dataType)}" for f in dt.fields
        )
        return f"struct<{inner}>"
    return f"unrecognized:{dt.simpleString()}"


def duck_output_schema(con, sql: str) -> list[tuple[str, str]]:
    """Ordered [(column name, canonical family)] via DESCRIBE (bind-only).

    Kept as a list, not a dict: a duplicated output column name in an
    oracle SELECT must surface as a duplicate-name error, not silently
    collapse to the last occurrence.
    """
    rows = con.execute(f"DESCRIBE {sql}").fetchall()
    return [(r[0], canon_duck(r[1])) for r in rows]


def _norm_mapping(v, norm):
    """Hashable canonical form for MAP/STRUCT values.  Spark returns
    structs as Row (tuple subclass WITH field names via asDict) and
    maps as dict; DuckDB returns both as dict — fold every shape to a
    sentinel-tagged sorted (key, value) tuple so the multiset compare
    is field-name-aware and engine-agnostic.  The sentinel keeps a map
    value from colliding with a genuine list-of-pairs column (the
    schema gate already guarantees same family, but stay exact)."""
    if (
        set(v) == {"key", "value"}
        and isinstance(v["key"], list)
        and isinstance(v["value"], list)
        and len(v["key"]) == len(v["value"])
    ):
        # DuckDB's columnar MAP fetch shape {'key': [...], 'value':
        # [...]} — zip to pairs.  Applied by BOTH sides' normalizers,
        # so even a genuine struct<key:list,value:list> column folds
        # identically on each engine and still compares exactly.
        v = dict(zip(v["key"], v["value"]))
    return ("__kv__",) + tuple(
        sorted((norm(k), norm(x)) for k, x in v.items())
    )


def norm_rounded(v):
    if hasattr(v, "asDict"):  # pyspark Row (struct) — check before tuple
        return _norm_mapping(v.asDict(), norm_rounded)
    if isinstance(v, dict):  # map (both engines) / DuckDB struct
        return _norm_mapping(v, norm_rounded)
    if isinstance(v, (list, tuple)):
        return tuple(norm_rounded(x) for x in v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v


def norm_exact(v):
    if hasattr(v, "asDict"):  # pyspark Row (struct) — check before tuple
        return _norm_mapping(v.asDict(), norm_exact)
    if isinstance(v, dict):  # map (both engines) / DuckDB struct
        return _norm_mapping(v, norm_exact)
    if isinstance(v, (list, tuple)):
        return tuple(norm_exact(x) for x in v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _row_key(row, cols, order, norm):
    return tuple(norm(row[cols.index(c)]) for c in order)


def compare(name: str, spark_df, con, sql: str) -> list[str]:
    errors = []
    s_cols = list(spark_df.columns)
    d_schema = duck_output_schema(con, sql)
    d_cols = [c for c, _ in d_schema]
    # Duplicate output names are ambiguous for the sorted-by-name driver
    # compare (and for positional indexing below) — fail loudly.
    for side, cols in (("spark", s_cols), ("duck", d_cols)):
        dups = sorted({c for c in cols if cols.count(c) > 1})
        if dups:
            errors.append(f"duplicate output column names on {side} "
                          f"side: {dups} — alias them apart")
    if errors:
        return errors
    if sorted(s_cols) != sorted(d_cols):
        errors.append(
            f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}"
        )
        return errors
    s_types = {f.name: canon_spark(f.dataType) for f in spark_df.schema.fields}
    d_types = dict(d_schema)
    decimal_cols = [
        f"{c}: spark={s_types[c]} duck={d_types[c]}"
        for c in sorted(s_cols)
        if "decimal(" in s_types[c] or "decimal(" in d_types[c]
    ]
    if decimal_cols:
        errors.append(
            "DECIMAL OUTPUT COLUMN (forbidden: the driver hash has "
            "rejected every decimal output ever gated, incl. the r8 "
            "exact DECIMAL(38,0)-both-sides spellings — DuckDB's pandas "
            "transport folds DECIMAL to float64, Spark ships Decimal "
            "objects; transport bounded integers as BIGINT, unbounded "
            "ones as digit strings): " + "; ".join(decimal_cols))
    unrecognized = [
        f"{c}: spark={s_types[c]} duck={d_types[c]}"
        for c in sorted(s_cols)
        if "unrecognized:" in s_types[c] or "unrecognized:" in d_types[c]
    ]
    type_diffs = [
        f"{c}: spark={s_types[c]} duck={d_types[c]}"
        for c in sorted(s_cols)
        if s_types[c] != d_types[c]
        and "unrecognized:" not in s_types[c]
        and "unrecognized:" not in d_types[c]
    ]
    if unrecognized:
        errors.append(
            "UNRECOGNIZED type family (canonicalizer gap, not a proven "
            "mismatch — extend canon_* before trusting this row): "
            + "; ".join(unrecognized))
    if type_diffs:
        errors.append(
            "TYPES differ (driver hash is type-sensitive; family folding "
            "is inferred from driver evidence — int widths fold, "
            "decimal scale-sensitive/precision-insensitive, "
            "HUGEINT a distinct family per the r7 gini/ltv hash-fails): "
            + "; ".join(type_diffs))
    s_rows = [tuple(r) for r in spark_df.collect()]
    d_rows = con.execute(sql).fetchall()
    if len(s_rows) != len(d_rows):
        errors.append(
            f"row count differs: spark={len(s_rows)} duck={len(d_rows)}"
        )
    order = sorted(s_cols)
    s_exact = Counter(_row_key(r, s_cols, order, norm_exact) for r in s_rows)
    d_exact = Counter(_row_key(r, d_cols, order, norm_exact) for r in d_rows)
    if s_exact != d_exact:
        s_round = Counter(
            _row_key(r, s_cols, order, norm_rounded) for r in s_rows
        )
        d_round = Counter(
            _row_key(r, d_cols, order, norm_rounded) for r in d_rows
        )
        if s_round == d_round:
            errors.append(
                "EXACT values differ but 1e-9-rounded match — ulp-level "
                f"float divergence; would fail the driver (cols {order})"
            )
        else:
            only_s = list((s_round - d_round).items())[:3]
            only_d = list((d_round - s_round).items())[:3]
            errors.append(
                f"values differ; spark-only={only_s} duck-only={only_d} "
                f"(cols {order})"
            )
    return errors


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry_mod
    # sweep entry points opt into the WindowExec WARN silence
    # (ADVICE r11 #3); interactive sessions keep the warning.
    os.environ.setdefault("SPARK_GRAFT_QUIET_WINDOWEXEC", "1")
    from decisions_kinesis_spark.session import get_session

    spark = get_session(app_name="oracle-check")
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = set(sys.argv[2:])
    con = duck_con(sf_dir)
    n_fail = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        if name not in oracles:
            try:
                n = fn(spark, sf_dir).count()
                print(f"  {name}: NO-ORACLE rows={n}")
            except Exception as e:
                n_fail += 1
                print(f"✗ {name}: NO-ORACLE FAILED {e}")
            continue
        try:
            errs = compare(name, fn(spark, sf_dir), con, oracles[name])
        except Exception as e:
            errs = [f"exception: {type(e).__name__}: {str(e)[:300]}"]
        if errs:
            n_fail += 1
            print(f"✗ {name}:")
            for e in errs:
                print(f"    {e}")
        else:
            print(f"✓ {name}")
        sys.stdout.flush()
        # free this query's localCheckpoint blocks before the next —
        # the bench session-aging fix (blocks release only when their
        # Python DataFrames are collected; a 244-query sweep otherwise
        # accretes executor memory and slows as it runs)
        gc.collect()
    print(f"\n{'FAIL' if n_fail else 'OK'} ({n_fail} failures)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

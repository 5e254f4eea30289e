"""Output checks: every executed entry's rows against an expectation
computed independently in DuckDB.

Registered queries are compared with their DuckDB oracle SQL the way
the repository's gate compares them: columns sorted by name, each cell
normalized (floats rounded to 9 places, dates as ISO strings, lists as
tuples), rows sorted by ``repr``, then a second, class-tagged pass
that tells int 662 from float 662.0 (the oracle side is read through
Arrow, so a HUGEINT or DECIMAL oracle column does not pass as an int).

The cleaning DAG has no oracle; :func:`cleaning_expectation` derives
its invariants from the raw form and resolution files directly.
"""

from __future__ import annotations

import math


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def _dtype_class(v) -> str:
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b"
    if isinstance(v, int):
        return "i"
    if isinstance(v, float):
        return "f"
    if isinstance(v, (list, tuple)):
        return "l:" + ",".join(_dtype_class(x) for x in v[:1])
    if isinstance(v, dict) or hasattr(v, "asDict"):
        return "s"
    return type(v).__name__[:1]


def norm_tagged(v):
    if hasattr(v, "asDict"):  # pyspark Row (struct column)
        v = v.asDict()
    if isinstance(v, dict):
        return ("s", tuple((k, norm_tagged(v[k])) for k in sorted(v)))
    if isinstance(v, (list, tuple)):
        return (_dtype_class(v), tuple(norm_tagged(x) for x in v))
    return (_dtype_class(v), norm(v))


def canonical(columns, rows, getter) -> tuple:
    """``(sorted column names, plain rows, class-tagged rows)`` for a
    result; ``getter(row, i, name)`` reads one cell."""
    cols = sorted(columns)
    idx = [list(columns).index(c) for c in cols]
    cells = [[getter(r, i, c) for i, c in zip(idx, cols)] for r in rows]
    plain = sorted((tuple(norm(v) for v in row) for row in cells), key=repr)
    tagged = sorted((tuple(norm_tagged(v) for v in row) for row in cells), key=repr)
    return tuple(cols), plain, tagged


def spark_canonical(columns, rows) -> tuple:
    return canonical(columns, rows, lambda r, i, c: r[c])


def oracle_canonical(con, sql: str) -> tuple:
    """Run one oracle query in DuckDB. Plain values come from
    ``fetchall`` and class-tagged ones from the Arrow result, as in
    the repository gate."""
    rel = con.sql(sql)
    columns = list(rel.columns)
    cols, plain, _ = canonical(columns, rel.fetchall(), lambda r, i, c: r[i])
    arrow_rows = rel.arrow().to_pylist()
    _, _, tagged = canonical(columns, arrow_rows, lambda r, i, c: r[c])
    return cols, plain, tagged


def mismatch(expected: tuple, got: tuple) -> str | None:
    """``None`` when ``got`` matches ``expected``, else a one-line
    reason."""
    (ecols, eplain, etagged), (gcols, gplain, gtagged) = expected, got
    if ecols != gcols:
        return f"columns {list(gcols)} != {list(ecols)}"
    if len(eplain) != len(gplain):
        return f"rows {len(gplain)} != {len(eplain)}"
    for a, b in zip(gplain, eplain):
        if a != b:
            return f"first diff {a!r} != {b!r}"
    if gtagged != etagged:
        return "value classes differ (int vs float/decimal)"
    return None


def cleaning_expectation(con, raw_path: str, resolution_path: str) -> dict:
    """Invariants of the cleaning DAG computed from its input files:
    rows kept = raw rows - rows named by a DELETE resolution; ``age``
    summed after the SET resolutions (last ``resolution_order`` wins);
    rows whose village becomes ``CLICKED``; anomaly rows per detector
    (GPS accuracy above 15 m, and households seen at least twice)."""
    con.execute(
        f"""
        CREATE OR REPLACE TEMP VIEW odk_kept AS
        WITH raw AS (
            SELECT "meta-instanceID" AS iid, "group_hh-hhid" AS hhid,
                   upper(trim("group_hh-village")) AS village,
                   "group_geo-Accuracy" AS accuracy,
                   TRY_CAST(age AS DOUBLE) AS age
            FROM '{raw_path}'),
        res AS (SELECT * FROM '{resolution_path}' WHERE Form = 'bench'),
        dels AS (SELECT DISTINCT instanceID FROM res WHERE Operation = 'DELETE'),
        sets AS (
            SELECT instanceID, arg_max("Set To", resolution_order) AS v
            FROM res WHERE Operation = 'SET' AND "Column" = 'age'
            GROUP BY instanceID)
        SELECT raw.iid, raw.hhid, raw.village, raw.accuracy,
               CASE WHEN sets.instanceID IS NOT NULL
                    THEN TRY_CAST(sets.v AS DOUBLE) ELSE raw.age END AS age
        FROM raw
        LEFT JOIN sets ON sets.instanceID = raw.iid
        WHERE raw.iid NOT IN (SELECT instanceID FROM dels)
        """
    )
    kept, age_sum, clicked = con.execute(
        "SELECT count(*), sum(age), count(*) FILTER (WHERE village = 'CLICK') FROM odk_kept"
    ).fetchone()
    gps = con.execute("SELECT count(*) FROM odk_kept WHERE accuracy > 15").fetchone()[0]
    dup = con.execute(
        "SELECT coalesce(sum(n), 0) FROM (SELECT count(*) n FROM odk_kept "
        "WHERE hhid IS NOT NULL GROUP BY hhid HAVING count(*) >= 2)"
    ).fetchone()[0]
    detectors = {k: int(v) for k, v in (("gps_accuracy", gps), ("dup_hhid", dup)) if v}
    return {
        "kept": int(kept),
        "age_sum": round(float(age_sum or 0.0), 6),
        "clicked": int(clicked),
        "anomalies": int(gps + dup),
        "detectors": detectors,
    }


def cleaning_mismatch(expected: dict, got: dict) -> str | None:
    for key in ("kept", "age_sum", "clicked", "anomalies", "detectors"):
        if got.get(key) != expected[key]:
            return f"{key} {got.get(key)!r} != {expected[key]!r}"
    return None

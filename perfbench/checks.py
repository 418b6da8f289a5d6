"""Output checks, run outside the timed phases.

Row comparison follows the repository's oracle-harness rules: columns
matched by lower-cased name, rows compared as sorted multisets, each
cell rendered under its column's driver-visible class (floats to six
decimals, NULL and NaN alike in float columns), and a class drift
(int vs float vs decimal vs bool vs str) is a failure even when the
values agree.
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

_INT = {"tinyint", "smallint", "int", "bigint"}


def _spark_class(type_name: str, values) -> str:
    if type_name in _INT:
        return "float" if any(v is None for v in values) else "int"
    if type_name in ("double", "float"):
        return "float"
    if type_name.startswith("decimal"):
        return "decimal"
    if type_name.startswith("timestamp") or type_name == "date":
        return "temporal"
    return {"boolean": "bool", "string": "str"}.get(type_name, "other")


def _pandas_class(series: pd.Series) -> str:
    dt = series.dtype
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "temporal"
    for v in series:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            continue
        if isinstance(v, str):
            return "str"
        if isinstance(v, Decimal):
            return "decimal"
        if isinstance(v, datetime.date):
            return "temporal"
        if isinstance(v, bool):
            return "bool"
        break
    return "other"


def _cell(v, cls: str) -> str:
    if isinstance(v, np.generic):
        v = v.item()
    if cls == "float":
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "nan"
        return f"{float(v):.6f}"
    if v is None:
        return "NULL"
    if cls == "bool":
        return str(bool(v)).lower()
    if isinstance(v, datetime.date):
        if isinstance(v, datetime.datetime) and (v.hour or v.minute or v.second
                                                 or v.microsecond):
            return v.strftime("%Y-%m-%d %H:%M:%S.%f")
        return f"{v.year:04d}-{v.month:02d}-{v.day:02d}"
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if isinstance(v, (list, tuple, np.ndarray)):
        return str([_cell(x, "other") for x in v])
    return str(v)


def _normalize(cols: list[str], rows: list[tuple], classes: dict) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i], classes[cols[i]]) for i in order) for r in rows)


def spark_rows(schema, rows) -> tuple[list[str], list[tuple], dict]:
    """Collected Spark rows -> (columns, tuples, driver-visible classes)."""
    cols = [f.name.lower() for f in schema.fields]
    tuples = [tuple(r) for r in rows]
    classes = {c: _spark_class(f.dataType.simpleString(), [t[i] for t in tuples])
               for i, (c, f) in enumerate(zip(cols, schema.fields))}
    return cols, tuples, classes


def same_rows(a, b) -> tuple[bool, str]:
    """Compare two (columns, tuples, classes) results."""
    (ac, ar, acl), (bc, br, bcl) = a, b
    if sorted(ac) != sorted(bc):
        return False, f"columns differ: {sorted(ac)} vs {sorted(bc)}"
    if len(ar) != len(br):
        return False, f"row counts differ: {len(ar)} vs {len(br)}"
    drift = {c: (acl[c], bcl[c]) for c in ac
             if "other" not in (acl[c], bcl[c]) and acl[c] != bcl[c]}
    if drift:
        return False, f"type class drift: {drift}"
    na, nb = _normalize(ac, ar, acl), _normalize(bc, br, bcl)
    if na != nb:
        diff = [(x, y) for x, y in zip(na, nb) if x != y][:2]
        return False, f"values differ; first: {diff}"
    return True, f"{len(ar)} rows"


class Oracle:
    """DuckDB over the generated parquet tables."""

    def __init__(self, tables_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{tables_dir}/{t}.parquet')")

    def rows(self, sql: str):
        pdf = self.con.sql(sql).fetchdf()
        cols = [c.lower() for c in pdf.columns]
        classes = {c: _pandas_class(pdf[o]) for c, o in zip(cols, pdf.columns)}
        return cols, list(pdf.itertuples(index=False, name=None)), classes

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------------------
# build checks
# ---------------------------------------------------------------------------

def shingles(s: str, n: int = 3) -> set[str]:
    """Char n-grams of '^' + s + '$', as the linking layer defines them."""
    p = f"^{s}$"
    return {p[i:i + n] for i in range(max(1, len(p) - n + 1))}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def canonical_problems(canon: pd.DataFrame, threshold: float) -> list[str]:
    """``canon`` is (entity, canonical).  Each canonical id must be the
    minimum of its component, and no component may join surface forms
    that no chain of pairs with exact shingle Jaccard >= threshold
    connects (blocking may miss a merge, never invent one)."""
    problems = []
    for c, grp in canon.groupby("canonical"):
        members = sorted(grp["entity"])
        if members[0] != c:
            problems.append(f"canonical {c!r} is not its component minimum {members[0]!r}")
        if len(members) < 2:
            continue
        sh = [shingles(m) for m in members]
        parent = list(range(len(members)))

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                if jaccard(sh[i], sh[j]) >= threshold:
                    parent[find(i)] = find(j)
        if len({find(i) for i in range(len(members))}) > 1:
            problems.append(f"component {c!r} joins forms below the Jaccard threshold")
    return problems


def pandas_triples(scored: pd.DataFrame, canon: pd.DataFrame,
                   negative: str = "Other") -> pd.DataFrame:
    """Dedup of scored mentions into canonical triples, in pandas."""
    m = dict(zip(canon["entity"], canon["canonical"]))
    pos = scored[scored["pred_relation"] != negative]
    t = pd.DataFrame({
        "subj": pos["h_name"], "pred": pos["pred_relation"], "obj": pos["t_name"],
        "doc_id": pos["doc_id"], "score": pos["score"],
    })
    t["subj_canon"] = t["subj"].map(m).fillna(t["subj"])
    t["obj_canon"] = t["obj"].map(m).fillna(t["obj"])
    g = t.groupby(["subj_canon", "pred", "obj_canon"], as_index=False).agg(
        score=("score", "max"), subj=("subj", "min"), obj=("obj", "min"),
        n_docs=("doc_id", "nunique"))
    return g[["subj", "pred", "obj", "subj_canon", "obj_canon", "score", "n_docs"]]


def frame_rows(df: pd.DataFrame) -> list[tuple]:
    """Order-free, float-rounded rows of a triples frame."""
    out = []
    for r in df.itertuples(index=False, name=None):
        out.append(tuple(f"{v:.6f}" if isinstance(v, float) else str(v) for v in r))
    return sorted(out)

"""Independent checks of one invocation's warm-up results.

The harness dumps selected warm-up results (parquet or JSON) and names, per
result, how to check it. This module recomputes each one without Spark:
DuckDB for SQL-expressible results (reusing the program's declared oracle
SQL where the call matches a declared query), numpy for the OLS chain, and
plain Python for the pairwise scores of the approximate operators.
"""
import json
import math

import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Values are equal when within a relative 1e-8 or an absolute 1e-4: the
# declared queries round order-dependent float aggregates to 2-6 decimals on
# both engines, and a sum that lands on a rounding midpoint may round either
# way depending on addition order.
REL_TOL = 1e-8
ABS_TOL = 1e-4


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        kind = df[c].dtype.kind
        if kind in "iub":
            df[c] = df[c].astype("int64")
        elif kind == "f":
            df[c] = df[c].astype("float64")
        elif kind == "M":
            df[c] = df[c].astype("datetime64[us]")
        else:
            df[c] = df[c].map(lambda v: v if v is None or isinstance(v, str) else str(v))
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """'' when equal, else a one-line reason."""
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            x, y = a.to_numpy(dtype="float64"), b.to_numpy(dtype="float64")
            same = np.isclose(x, y, rtol=REL_TOL, atol=ABS_TOL) | (np.isnan(x) & np.isnan(y))
            if not same.all():
                i = int(np.argmin(same))
                return f"{c}[{i}]: {x[i]!r} vs {y[i]!r}"
        elif not a.equals(b):
            i = int(np.argmax((a != b).to_numpy()))
            return f"{c}[{i}]: {a.iloc[i]!r} vs {b.iloc[i]!r}"
    return ""


def _connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _read(con, path: str) -> pd.DataFrame:
    return con.sql(f"SELECT * FROM '{path}/*.parquet'").df()


def check_sql(con, chk) -> str:
    return frames_equal(_read(con, chk["path"]), con.sql(chk["sql"]).df())


def check_ols(con, chk) -> str:
    """The reference chain recomputed in numpy: NA injection, mean fill,
    arcsinh, Gelman standardization, no-intercept OLS."""
    got = json.load(open(chk["path"]))
    p = chk["params"]
    li = con.sql("SELECT l_orderkey, l_extendedprice, l_quantity, l_discount, l_tax FROM lineitem").df()
    q = li["l_quantity"].to_numpy(dtype="float64").copy()
    q[(li["l_orderkey"].to_numpy() + int(p["na_salt"])) % int(p["na_modulus"]) == 0] = np.nan
    q[np.isnan(q)] = np.nanmean(q)
    cols = {
        "l_extendedprice": np.arcsinh(li["l_extendedprice"].to_numpy(dtype="float64")),
        "l_quantity": np.arcsinh(q),
        "l_discount": li["l_discount"].to_numpy(dtype="float64"),
        "l_tax": li["l_tax"].to_numpy(dtype="float64"),
    }
    std = {k: (v - v.mean()) / (2.0 * v.std(ddof=1)) for k, v in cols.items()}
    x = np.column_stack([std[r] for r in got["regressors"]])
    beta = np.linalg.lstsq(x, std["l_extendedprice"], rcond=None)[0]
    if got["n"] != len(li):
        return f"n {got['n']} vs {len(li)}"
    if not np.allclose(got["coef"], beta, rtol=1e-6, atol=1e-9):
        return f"coef {got['coef']} vs {beta.tolist()}"
    return ""


def check_mice(con, chk) -> str:
    """Stacked imputations: one copy per imputation, observed cells kept,
    no nulls left, imputed quantities inside the observed range."""
    got = _read(con, chk["path"])
    n_imp = int(chk["params"]["imputations"])
    src = con.sql(
        "SELECT l_orderkey, l_orderkey * 10 + l_linenumber AS row_id, l_quantity FROM lineitem "
        "WHERE l_orderkey % 5 = 0"
    ).df()
    if len(got) != n_imp * len(src):
        return f"rows {len(got)} vs {n_imp} x {len(src)}"
    if got.drop(columns=["iter"]).isna().any().any():
        return "nulls left after imputation"
    merged = got.merge(src, on="row_id")
    nulled = (merged["l_orderkey"] + int(chk["params"]["na_salt"])) % int(chk["params"]["na_modulus"]) == 0
    lo, hi = src["l_quantity"].min(), src["l_quantity"].max()
    if not merged.loc[nulled, "quantity"].between(lo - 1e-9, hi + 1e-9).all():
        return "imputed quantity outside the observed range"
    if (merged.loc[~nulled, "quantity"] != merged.loc[~nulled, "l_quantity"]).any():
        return "an observed quantity changed"
    return ""


def check_jaccard_pairs(con, chk) -> str:
    """Every reported near-dup pair has the token-set Jaccard it claims."""
    got = _read(con, chk["path"])
    tau = float(chk["params"]["tau"])
    docs = dict(con.sql("SELECT doc_id, text FROM documents").fetchall())
    for a, b, j in got[["a_id", "b_id", "jaccard"]].itertuples(index=False):
        if not a < b:
            return f"pair ({a}, {b}) not ordered"
        sa, sb = set(docs[a].split(" ")), set(docs[b].split(" "))
        want = round(len(sa & sb) / len(sa | sb), 6)
        if abs(want - j) > 1e-9 or j < tau:
            return f"pair ({a}, {b}): jaccard {j} vs {want}"
    return ""


def check_cosine_pairs(con, chk) -> str:
    """Every approximate neighbour has the cosine it claims, ranked by it."""
    got = _read(con, chk["path"])
    emb = con.sql("SELECT vec_id, embedding FROM embeddings").df()
    vec = {int(i): np.asarray(e, dtype="float64") for i, e in zip(emb["vec_id"], emb["embedding"])}
    for a, grp in got.groupby("a_id"):
        grp = grp.sort_values("rn")
        want_order = grp.sort_values(["cos_sim", "b_id"], ascending=[False, True])["b_id"].tolist()
        if grp["b_id"].tolist() != want_order or (grp["b_id"] == a).any():
            return f"a_id {a}: neighbours not ranked by cosine"
        for b, c in zip(grp["b_id"], grp["cos_sim"]):
            va, vb = vec[int(a)], vec[int(b)]
            want = round(float(va @ vb / (math.sqrt(va @ va) * math.sqrt(vb @ vb))), 6)
            if abs(want - c) > 2e-6:
                return f"pair ({a}, {b}): cosine {c} vs {want}"
    return ""


CHECKS = {
    "sql": check_sql,
    "ols": check_ols,
    "mice": check_mice,
    "jaccard_pairs": check_jaccard_pairs,
    "cosine_pairs": check_cosine_pairs,
}


def run_checks(checks, data_dir: str):
    """Returns (attempted, failures) where failures are 'name: reason'."""
    con = _connect(data_dir)
    failures = []
    for chk in checks:
        try:
            reason = CHECKS[chk["kind"]](con, chk)
        except Exception as e:  # noqa: BLE001 - a crashed check is a failed check
            reason = f"{type(e).__name__}: {str(e)[:200]}"
        if reason:
            failures.append(f"{chk['name']}: {reason}")
    con.close()
    return len(checks), failures

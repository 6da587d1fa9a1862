"""Independent oracles: DuckDB recomputes what the engine computed on the
same generated inputs, numpy brute force scores the ANN answers, and the
planted truth scores deduplication. Nothing here imports the engine.

The DuckDB SQL mirrors the engine's documented semantics: exact decimal
sums for z-score statistics (cast to DOUBLE through VARCHAR, which is
correctly rounded), quantile_cont for Spark's exact percentile, the
first-matching format for mixed date strings, latest-wins merges.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

NUMERIC = ("DOUBLE", "BIGINT", "INTEGER")
DATE_FORMATS_SQL = ("%Y-%m-%d", "%d/%m/%Y", "%m-%d-%Y")
Z_THRESHOLD = 3.0


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    return con


def checksum(path: str, cols: list[str]) -> tuple[int, int]:
    """table_checksum of a parquet file or a Spark output directory."""
    con = _con()
    try:
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        return table_checksum(con, src, cols)
    finally:
        con.close()


def _q(c: str) -> str:
    return '"' + c + '"'


def _parsed_date(c: str) -> str:
    return "coalesce(" + ", ".join(
        f"try_strptime({_q(c)}, '{f}')" for f in DATE_FORMATS_SQL
    ) + ")"


def _mu_sigma(c: str) -> tuple[str, str]:
    x = f"CAST({_q(c)} AS DECIMAL(18,2))"
    sx = f"CAST(CAST(sum({x}) AS VARCHAR) AS DOUBLE)"
    sx2 = f"CAST(CAST(sum({x} * {x}) AS VARCHAR) AS DOUBLE)"
    n = f"CAST(count({_q(c)}) AS DOUBLE)"
    mu = f"round({sx} / {n}, 6)"
    sigma = f"round(sqrt({sx2} / {n} - ({sx} / {n}) * ({sx} / {n})), 6)"
    return mu, sigma


def table_checksum(con, src: str, cols: list[str]) -> tuple[int, int]:
    """(rows, order-independent checksum) of a parquet source, computed by
    DuckDB so both sides of a comparison use the same hash."""
    row = ", ".join(_q(c) for c in cols)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({row}) % 1000000007), 0)"
        f" FROM read_parquet('{src}')"
    ).fetchone()
    return int(n), int(h)


# ---------------------------------------------------------------------------
# clean_loop
# ---------------------------------------------------------------------------


def clean_loop_expected(path: str) -> dict:
    """Profile rows, missions, cleaned-table checksum and quality score,
    recomputed from the input file alone."""
    con = _con()
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{path}')")
    schema = con.execute("DESCRIBE t").fetchall()
    cols = [r[0] for r in schema]
    types = {r[0]: r[1] for r in schema}
    numeric = [c for c in cols if types[c] in NUMERIC]
    strings = [c for c in cols if types[c] == "VARCHAR"]
    n_rows = con.execute("SELECT count(*) FROM t").fetchone()[0]

    profile = {}
    for c in cols:
        nn, nu = con.execute(
            f"SELECT count(*) - count({_q(c)}), count(DISTINCT {_q(c)}) FROM t"
        ).fetchone()
        profile[c] = (int(nn), int(nu))

    missions: set[tuple[str, str, int]] = set()
    for c in numeric:
        mu, sigma = _mu_sigma(c)
        m, s = con.execute(f"SELECT {mu}, {sigma} FROM t").fetchone()
        if m is None or s is None or s == 0 or s != s:
            continue
        k = con.execute(
            f"SELECT count(*) FROM t WHERE abs(({_q(c)} - ?) / ?) > ?",
            [m, s, Z_THRESHOLD],
        ).fetchone()[0]
        if k > 0:
            missions.add(("outliers", c, int(k)))
    for c in cols:
        if profile[c][0] > 0:
            missions.add(("missing", c, profile[c][0]))
    distinct_rows = con.execute("SELECT count(*) FROM (SELECT DISTINCT * FROM t)").fetchone()[0]
    dups = n_rows - distinct_rows
    if dups > 0:
        missions.add(("duplicates", "*", int(dups)))
    for c in strings:
        n_tot, n_ok = con.execute(
            f"SELECT count({_q(c)}), count({_parsed_date(c)}) FROM t"
        ).fetchone()
        if 0 < n_ok < n_tot:
            missions.add(("date_mixed", c, int(n_tot - n_ok)))

    # the remediation plan the benchmark derives from the missions
    plan = remediation_plan(missions, set(numeric))
    nulls_before = sum(v[0] for v in profile.values())
    con.execute("CREATE TABLE c AS SELECT * FROM t")
    for step, col, how in plan:
        if step == "replace_outliers":
            mu, sigma = _mu_sigma(col)
            m, s = con.execute(f"SELECT {mu}, {sigma} FROM c").fetchone()
            # literals go through VARCHAR: a bare 6dp literal is DECIMAL in DuckDB
            flag = (
                f"coalesce(abs(({_q(col)} - CAST('{m!r}' AS DOUBLE))"
                f" / CAST('{s!r}' AS DOUBLE)) > {Z_THRESHOLD}, false)"
            )
            med = con.execute(
                f"SELECT quantile_cont({_q(col)}, 0.5) FROM c WHERE NOT {flag}"
            ).fetchone()[0]
            con.execute(
                f"UPDATE c SET {_q(col)} = ? WHERE {flag}", [med]
            )
        elif step == "impute" and how == "median":
            med = con.execute(f"SELECT quantile_cont({_q(col)}, 0.5) FROM c").fetchone()[0]
            con.execute(f"UPDATE c SET {_q(col)} = ? WHERE {_q(col)} IS NULL", [med])
        elif step == "impute" and how == "mode":
            mode = con.execute(
                f"SELECT {_q(col)} FROM c WHERE {_q(col)} IS NOT NULL GROUP BY 1"
                f" ORDER BY count(*) DESC, 1 ASC LIMIT 1"
            ).fetchone()[0]
            con.execute(f"UPDATE c SET {_q(col)} = ? WHERE {_q(col)} IS NULL", [mode])
        elif step == "drop_duplicates":
            con.execute("CREATE TABLE c2 AS SELECT DISTINCT * FROM c")
            con.execute("DROP TABLE c")
            con.execute("ALTER TABLE c2 RENAME TO c")
        elif step == "normalize_dates":
            con.execute(
                f"UPDATE c SET {_q(col)} = strftime({_parsed_date(col)}, '%Y-%m-%d')"
            )
    rows_after = con.execute("SELECT count(*) FROM c").fetchone()[0]
    nulls_after = con.execute(
        "SELECT " + " + ".join(f"(count(*) - count({_q(c)}))" for c in cols) + " FROM c"
    ).fetchone()[0]
    dups_after = rows_after - con.execute(
        "SELECT count(*) FROM (SELECT DISTINCT * FROM c)"
    ).fetchone()[0]
    raw = 50.0 + 0.5 * max(0, nulls_before - nulls_after) + 1.0 * max(0, dups - dups_after)
    tmp = path + ".oracle_clean.parquet"
    con.execute(f"COPY c TO '{tmp}' (FORMAT PARQUET)")
    checksum = table_checksum(con, tmp, cols)
    os.remove(tmp)
    con.close()
    return {
        "columns": cols,
        "profile": profile,
        "missions": missions,
        "plan": plan,
        "cleaned": checksum,
        "score": (
            int(nulls_before),
            int(nulls_after),
            int(dups),
            int(dups_after),
            round(max(0.0, min(100.0, raw)), 2),
        ),
        "rows_before": int(n_rows),
    }


def remediation_plan(missions, numeric: set) -> list[tuple[str, str, str]]:
    """Ordered (step, column, strategy) chosen from detected missions:
    outliers -> median replacement, missing -> median (numeric) or mode
    (string) imputation, duplicates -> drop, mixed dates -> normalize."""
    plan = []
    kinds = {(m, c) for m, c, _ in missions}
    for m, c in sorted(kinds):
        if m == "outliers":
            plan.append(("replace_outliers", c, "median"))
    for m, c in sorted(kinds):
        if m == "missing":
            plan.append(("impute", c, "median" if c in numeric else "mode"))
    if ("duplicates", "*") in kinds:
        plan.append(("drop_duplicates", "*", ""))
    for m, c in sorted(kinds):
        if m == "date_mixed":
            plan.append(("normalize_dates", c, ""))
    return plan


# ---------------------------------------------------------------------------
# corpus_curate
# ---------------------------------------------------------------------------


def pair_f1(components: dict[int, int], groups: list[list[int]], keep: set[int]) -> float:
    """Pairwise F1 of predicted clusters (id -> component) against the
    planted duplicate groups, restricted to the ids in ``keep``."""

    def pairs_of(clusters) -> set[tuple[int, int]]:
        out = set()
        for members in clusters:
            ms = sorted(m for m in members if m in keep)
            out.update((a, b) for i, a in enumerate(ms) for b in ms[i + 1 :])
        return out

    by_comp: dict[int, list[int]] = {}
    for i, c in components.items():
        by_comp.setdefault(c, []).append(i)
    pred, true = pairs_of(by_comp.values()), pairs_of(groups)
    if not pred and not true:
        return 1.0
    tp = len(pred & true)
    return 2 * tp / (len(pred) + len(true))


def true_pair_count(groups: list[list[int]], keep: set[int]) -> int:
    n = 0
    for g in groups:
        k = sum(1 for m in g if m in keep)
        n += k * (k - 1) // 2
    return n


def _load_vectors(path: str, id_col: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path)
    ids = t.column(id_col).to_numpy()
    flat = t.column("embedding").combine_chunks().flatten().to_numpy()
    return ids, flat.reshape(len(ids), -1).astype(np.float64)


def brute_topk(corpus: list[str], queries: str, k: int) -> dict[int, set[int]]:
    """Exact cosine top-k ids per query over the 3dp-quantized vectors
    the engine scores (ties broken by smaller id, like the engine)."""
    parts = [_load_vectors(p, "vec_id") for p in corpus]
    ids = np.concatenate([p[0] for p in parts])
    x = np.round(np.concatenate([p[1] for p in parts]), 3)
    qids, q = _load_vectors(queries, "query_id")
    q = np.round(q, 3)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    scores = np.round(qn @ xn.T, 6)
    out = {}
    for i, qid in enumerate(qids):
        order = np.lexsort((ids, -scores[i]))[:k]
        out[int(qid)] = set(int(v) for v in ids[order])
    return out


def recall_at_k(got: dict[int, set[int]], want: dict[int, set[int]]) -> float:
    hits = sum(len(got.get(q, set()) & w) for q, w in want.items())
    return hits / sum(len(w) for w in want.values())


# ---------------------------------------------------------------------------
# ingest_serve
# ---------------------------------------------------------------------------


def replay_merges(base: str, changes: list[str], cols: list[str]) -> tuple[int, int]:
    """Latest-wins replay of every change batch over the base table, with
    tombstones removed: (rows, checksum) of the expected final table."""
    con = _con()
    srcs = [f"SELECT *, NULL::VARCHAR AS op, 0 AS src FROM read_parquet('{base}')"]
    srcs += [f"SELECT *, 1 AS src FROM read_parquet('{c}')" for c in changes]
    sel = ", ".join(_q(c) for c in cols)
    con.execute(
        "CREATE TABLE f AS SELECT " + sel + " FROM ("
        "SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts DESC, src DESC) AS rn"
        " FROM (" + " UNION ALL BY NAME ".join(srcs) + ")) WHERE rn = 1"
        " AND coalesce(op <> 'D', true)"
    )
    tmp = base + ".oracle_replay.parquet"
    con.execute(f"COPY f TO '{tmp}' (FORMAT PARQUET)")
    out = table_checksum(con, tmp, cols)
    os.remove(tmp)
    con.close()
    return out


def stats_recompute(changes: list[str], cols: list[str]) -> dict[str, tuple]:
    """(n, exact sum, exact sum of squares, min, max) per column over every
    ingested change row, as strings for an exact comparison."""
    con = _con()
    union = " UNION ALL ".join(f"SELECT * FROM read_parquet('{c}')" for c in changes)
    out = {}
    for c in cols:
        x = f"CAST({_q(c)} AS DECIMAL(18,2))"
        row = con.execute(
            f"SELECT count({_q(c)}), CAST(sum({x}) AS DECIMAL(38,2)),"
            f" CAST(sum({x} * {x}) AS DECIMAL(38,4)), min({_q(c)}), max({_q(c)})"
            f" FROM ({union})"
        ).fetchone()
        out[c] = tuple(str(v) for v in row)
    con.close()
    return out

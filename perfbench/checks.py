"""Independent output checks, run outside the timed region.

Each check recomputes the expected result from the generated inputs
without Spark or qsvspark (DuckDB, numpy, a union-find) and returns a
list of mismatch messages; an empty list means the output is correct.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

SEQ_LEN = 2048
NUM_SINKS = 4
QUARANTINE_SINK = "sink_quarantine"


def connect(work: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=4")
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb-tmp')}'")
    return con


def _table_glob(wh: str, table: str) -> str:
    with open(os.path.join(wh, table, "CURRENT")) as f:
        snap = f.read().strip()
    return os.path.join(wh, table, snap, "data", "**", "*.parquet")


# -- bulk_ingest ---------------------------------------------------------------


def _expected_routed(con, input_glob: str) -> None:
    """The routed rows the pipeline must produce, from the raw input:
    keep the lowest doc_id per token array, then classify."""
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE expected AS
        WITH src AS (SELECT * FROM read_parquet('{input_glob}')),
        kept AS (
            SELECT * FROM src
            QUALIFY row_number() OVER (PARTITION BY tokens ORDER BY doc_id) = 1
        ),
        parsed AS (
            SELECT *, nullif(regexp_extract(doc_id,
                '^(src[0-9]+)/part-([0-9]+)/doc-([0-9]+)$', 1), '') AS parsed_source,
                CASE WHEN regexp_matches(source, '^src[0-9]{{2}}$')
                      AND CAST(substr(source, 4) AS INT) < 20
                     THEN 'sink_' || (CAST(substr(source, 4) AS INT) % {NUM_SINKS})
                END AS sink0
            FROM kept
        )
        SELECT doc_id, tokens, n_tok, source,
            CASE WHEN parsed_source IS NULL THEN 'unparseable_doc_id'
                 WHEN parsed_source <> source THEN 'source_mismatch'
                 WHEN sink0 IS NULL THEN 'unknown_source' END AS error_reason,
            CASE WHEN parsed_source IS NULL OR parsed_source <> source OR sink0 IS NULL
                 THEN '{QUARANTINE_SINK}' ELSE sink0 END AS sink
        FROM parsed
    """)


def counts_match(got: dict, want: dict) -> bool:
    return {k: int(v) for k, v in got.items()} == want


def _diff(con, a: str, b: str) -> int:
    return con.execute(
        f"SELECT (SELECT count(*) FROM (FROM ({a}) EXCEPT ALL FROM ({b}))) + "
        f"(SELECT count(*) FROM (FROM ({b}) EXCEPT ALL FROM ({a})))"
    ).fetchone()[0]


def bulk(con, input_glob: str, wh: str, manifest_counts: dict) -> tuple[dict, dict]:
    """Check the routed, aggregates, packed and sequences tables of one
    bulk pass. Returns ({op: [messages]}, counts)."""
    errs: dict[str, list[str]] = {"run": [], "pack": []}
    _expected_routed(con, input_glob)
    con.execute(f"CREATE OR REPLACE TEMP VIEW routed AS SELECT * FROM "
                f"read_parquet('{_table_glob(wh, 'routed')}', hive_partitioning=true)")
    exp_sink = dict(con.execute(
        "SELECT sink, count(*) FROM expected GROUP BY sink").fetchall())
    got_sink = dict(con.execute(
        "SELECT sink, count(*) FROM routed GROUP BY sink").fetchall())
    if exp_sink != got_sink:
        errs["run"].append(f"per-sink rows: expected {exp_sink}, routed {got_sink}")
    if not counts_match(manifest_counts, exp_sink):
        errs["run"].append(f"manifest per-sink counts {manifest_counts} != {exp_sink}")
    exp_reason = dict(con.execute(
        "SELECT error_reason, count(*) FROM expected WHERE error_reason IS NOT NULL "
        "GROUP BY 1").fetchall())
    got_reason = dict(con.execute(
        "SELECT error_reason, count(*) FROM routed WHERE error_reason IS NOT NULL "
        "GROUP BY 1").fetchall())
    if exp_reason != got_reason:
        errs["run"].append(f"quarantine reasons: expected {exp_reason}, got {got_reason}")
    bad = _diff(con, "SELECT doc_id, tokens, sink FROM expected",
                "SELECT doc_id, tokens, sink FROM routed")
    if bad:
        errs["run"].append(f"{bad} routed rows differ from the expected rows")
    agg_expected = (
        f"SELECT sink, source, CAST(n_tok // 64 * 64 AS INT) AS n_tok_bucket, "
        f"count(*) AS seq_count, count(DISTINCT doc_id) AS uniq_docs, "
        f"CAST(sum(n_tok) AS BIGINT) AS tok_sum FROM expected "
        f"WHERE sink <> '{QUARANTINE_SINK}' GROUP BY ALL"
    )
    agg_got = (
        f"SELECT sink, source, CAST(n_tok_bucket AS INT), seq_count, uniq_docs, "
        f"CAST(tok_sum AS BIGINT) FROM read_parquet('{_table_glob(wh, 'aggregates')}')"
    )
    bad = _diff(con, agg_expected, agg_got)
    if bad:
        errs["run"].append(f"{bad} aggregate rows differ")

    packed = f"read_parquet('{_table_glob(wh, 'packed')}', hive_partitioning=true)"
    seqs = f"read_parquet('{_table_glob(wh, 'sequences')}', hive_partitioning=true)"
    bad = _diff(con, f"SELECT doc_id, sink FROM expected WHERE sink <> '{QUARANTINE_SINK}'",
                f"SELECT doc_id, sink FROM {packed}")
    if bad:
        errs["pack"].append(f"{bad} docs not packed exactly once into their sink")
    bad = _diff(con, f"""
        WITH parts AS (
            SELECT p.seq_id, p.sink, flatten(list(
                       list_slice(e.tokens, p.part_start + 1, p.part_start + p.part_len)
                       ORDER BY p.seq_fill)) AS flat,
                   count(*) AS n_docs, CAST(sum(p.part_len) AS BIGINT) AS n_tokens
            FROM {packed} p JOIN expected e USING (doc_id) GROUP BY p.seq_id, p.sink)
        SELECT seq_id, sink, list_concat(flat, list_transform(
                   range(greatest({SEQ_LEN} - len(flat), 0)), x -> 0::INT)) AS tokens,
               n_docs, n_tokens FROM parts""",
        f"SELECT seq_id, sink, tokens, n_docs, n_tokens FROM {seqs}")
    if bad:
        errs["pack"].append(f"{bad} sequence rows differ from their docs' tokens")
    n_seq, n_tokens, over = con.execute(
        f"SELECT count(*), sum(n_tokens), count(*) FILTER (WHERE n_tokens > {SEQ_LEN}) "
        f"FROM {seqs}").fetchone()
    if over:
        errs["pack"].append(f"{over} sequences longer than {SEQ_LEN}")
    counts = {
        "expected_sink": exp_sink,
        "reasons": exp_reason,
        "fill_ratio": float(n_tokens) / (n_seq * SEQ_LEN) if n_seq else 0.0,
    }
    return errs, counts


# -- query_mix -------------------------------------------------------------------


def fingerprint(df: pd.DataFrame) -> tuple:
    """Order-insensitive digest of a result: column names, row count and
    the sum of per-row hashes. Numbers compare as float64 rounded to 6
    places, so int/float width differences between engines do not count."""
    cols = sorted(df.columns)
    acc = np.zeros(len(df), dtype=np.uint64)
    for i, c in enumerate(cols):
        v = df[c]
        if pd.api.types.is_bool_dtype(v) or pd.api.types.is_numeric_dtype(v):
            arr = np.round(v.to_numpy(dtype="float64", na_value=np.nan), 6) + 0.0
        elif pd.api.types.is_datetime64_any_dtype(v):
            arr = v.astype("int64").to_numpy().astype("float64")
        else:
            arr = np.array(
                [x if x is None or isinstance(x, str) else
                 format(float(x), ".6f") if isinstance(x, (int, float, np.number)) or
                 type(x).__name__ == "Decimal" else str(x) for x in v],
                dtype=object,
            )
        h = pd.util.hash_array(arr, categorize=False)
        acc = acc * np.uint64(1_000_003) + h * np.uint64(2 * i + 1)
    return tuple(cols), len(df), int(acc.sum(dtype=np.uint64))


def oracle_fingerprints(con, data_dir: str, names: list[str], sqls: dict) -> dict:
    for t in ("nation", "customer", "orders", "lineitem", "events"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return {n: fingerprint(con.execute(sqls[n]).df()) for n in names}


# -- dedup_hygiene -------------------------------------------------------------------


def union_find_kept(all_ids, pairs) -> set:
    parent: dict[int, int] = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i for i in all_ids if find(i) == i}


def label_rounds(pairs) -> int:
    """Rounds min-label propagation needs on this pair graph: the largest
    distance from a component's smallest id to any member (the initial
    label already reaches the neighbours), plus the round that sees no
    change."""
    adj: dict[int, list[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    seen: set = set()
    worst = 0
    for start in sorted(adj):
        if start in seen:
            continue
        dist = {start: 0}
        frontier = [start]
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        nxt.append(v)
            frontier = nxt
        seen.update(dist)
        worst = max(worst, max(dist.values()))
    return max(worst - 1, 0) + 1


def lsh_pairs(pairs, all_ids: set, clusters) -> list[str]:
    """Candidate pairs are well formed and include every pair inside each
    planted near-copy cluster (Jaccard about 0.9: with 40 bands of 2 rows
    the chance of missing one is below 1e-20)."""
    errs = []
    found = set(pairs)
    missed = sum(1 for g in clusters for i, a in enumerate(sorted(g)) for b in sorted(g)[i + 1:]
                 if (a, b) not in found)
    if missed:
        errs.append(f"{missed} planted near-duplicate pairs missing from the candidates")
    if any(a >= b for a, b in pairs):
        errs.append("a candidate pair with id_a >= id_b")
    if len(set(pairs)) != len(pairs):
        errs.append("duplicate candidate pairs")
    if any(a not in all_ids or b not in all_ids for a, b in pairs):
        errs.append("a candidate pair names an unknown doc")
    return errs


def semdedup(ids, vecs, centroids, threshold, got: pd.DataFrame) -> list[str]:
    """numpy recount of the cluster assignment and the kept flags."""
    x = np.asarray(vecs, dtype=np.float64)
    c = np.asarray(centroids, dtype=np.float64)
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)
    cluster = np.argmax(np.round(xn @ cn.T, 6), axis=1)
    kept = np.ones(len(ids), dtype=bool)
    order = np.argsort(ids)
    loose = np.zeros(len(ids), dtype=bool)  # verdict within 1e-6 of the threshold
    for k in np.unique(cluster):
        idx = order[cluster[order] == k]
        sims = xn[idx] @ xn[idx].T
        low = np.tril(np.ones_like(sims, dtype=bool), k=-1)
        kept[idx] = ~((sims >= threshold) & low).any(axis=1)
        loose[idx] = ((np.abs(sims - threshold) < 1e-6) & low).any(axis=1)
    got = got.set_index("vec_id").loc[ids]
    errs = []
    if (got["cluster"].to_numpy() != cluster).any():
        errs.append(f"{int((got['cluster'].to_numpy() != cluster).sum())} cluster ids differ")
    wrong = (got["kept"].to_numpy() != kept) & ~loose
    if wrong.any():
        errs.append(f"{int(wrong.sum())} kept flags differ")
    return errs


def _gram_hashes(arr: np.ndarray, n: int) -> np.ndarray:
    if len(arr) < n:
        return np.zeros(0, dtype=np.uint64)
    w = np.lib.stride_tricks.sliding_window_view(arr.astype(np.uint64), n)
    mult = np.uint64(0x9E3779B97F4A7C15) ** np.arange(n, dtype=np.uint64)
    return (w * mult).sum(axis=1, dtype=np.uint64)


def decontam_kept(corpus_ids, corpus_tokens, bench_tokens, n: int) -> set:
    bench = np.unique(np.concatenate([_gram_hashes(np.asarray(t), n) for t in bench_tokens]))
    return {
        i for i, t in zip(corpus_ids, corpus_tokens)
        if not np.isin(_gram_hashes(np.asarray(t), n), bench).any()
    }

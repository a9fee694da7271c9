"""Seeded input generators for every workload.

Everything here is numpy + pyarrow: the inputs do not depend on the code
under test, and the same (seed, size) always gives byte-identical files.
Sizes are fixed per workload; the seed only moves content.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_257
NUM_SOURCES = 20  # src00..src19, the pipeline's default source dimension
ALPHABET = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))


def write_parquet(table: pa.Table, path: str, n_files: int = 1) -> int:
    """Write ``table`` as ``n_files`` parquet files under ``path`` (a
    directory when n_files > 1); returns the bytes written."""
    if n_files == 1:
        pq.write_table(table, path)
        return os.path.getsize(path)
    os.makedirs(path, exist_ok=True)
    total = 0
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f)
        total += os.path.getsize(f)
    return total


# -- bulk_ingest ---------------------------------------------------------

BAD_REASONS = ("unparseable_doc_id", "source_mismatch", "unknown_source")


def tokens_table(
    seed: int,
    n: int,
    zipf_s: float = 1.7,
    dup_share: float = 0.08,
    bad_share: float = 0.01,
) -> pa.Table:
    """The pipeline's input shape (doc_id, tokens, n_tok, source).

    - ``n`` clean rows; ``source`` is Zipf(zipf_s) over src00..src19
      (s=1.7 puts about half the rows on src00).
    - ``dup_share * n`` extra rows re-ship an existing token array under
      a new doc_id (same source), so exact dedup has work to do.
    - ``bad_share * n`` extra rows per quarantine reason:
      unparseable doc_id, doc_id/source disagreement, and a source the
      enrich dimension does not know (src97).
    Row order is shuffled so every kind lands in every input split.
    """
    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, NUM_SOURCES + 1) ** zipf_s
    src = rng.choice(NUM_SOURCES, size=n, p=w / w.sum())
    n_tok = rng.integers(16, 513, size=n).astype(np.int32)
    shard = rng.integers(0, 64, size=n)

    n_dup = int(n * dup_share)
    n_bad = int(n * bad_share)
    dup_of = rng.choice(n, size=n_dup, replace=False)
    bad_tok = rng.integers(16, 513, size=3 * n_bad).astype(np.int32)

    lens = np.concatenate([n_tok, n_tok[dup_of], bad_tok])
    offsets = offsets_of(lens)
    values = rng.integers(0, VOCAB, size=int(offsets[n]), dtype=np.int32)
    # re-shipped rows copy the token values of the row they duplicate
    dup_vals = [values[offsets[i]:offsets[i + 1]] for i in dup_of]
    bad_vals = rng.integers(0, VOCAB, size=int(bad_tok.sum()), dtype=np.int32)
    values = np.concatenate([values, *dup_vals, bad_vals])

    rid = np.arange(n + n_dup + 3 * n_bad)
    sources = [f"src{i:02d}" for i in src]
    sources += [sources[i] for i in dup_of]
    shards = list(shard) + list(shard[dup_of]) + list(rng.integers(0, 64, 3 * n_bad))
    doc_ids = [
        f"{s}/part-{h:04d}/doc-{r:012d}"
        for s, h, r in zip(sources, shards, rid[: n + n_dup])
    ]
    base = n + n_dup
    for k, reason in enumerate(BAD_REASONS):
        for j in range(n_bad):
            r = base + k * n_bad + j
            h = shards[r]
            good = f"src{rng.integers(0, NUM_SOURCES):02d}"
            if reason == "unparseable_doc_id":
                doc_ids.append(f"corrupt-{r:012d}")
                sources.append(good)
            elif reason == "source_mismatch":
                other = f"src{(int(good[3:]) + 1) % NUM_SOURCES:02d}"
                doc_ids.append(f"{other}/part-{h:04d}/doc-{r:012d}")
                sources.append(good)
            else:
                doc_ids.append(f"src97/part-{h:04d}/doc-{r:012d}")
                sources.append("src97")

    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
            "n_tok": pa.array(lens, pa.int32()),
            "source": pa.array(sources, pa.string()),
        }
    )
    return table.take(pa.array(rng.permutation(table.num_rows)))


def offsets_of(lens: np.ndarray) -> np.ndarray:
    out = np.zeros(len(lens) + 1, dtype=np.int32)
    np.cumsum(lens, out=out[1:])
    return out


# -- query_mix -------------------------------------------------------------


def query_tables(seed: int, out_dir: str, sf: float = 0.1) -> dict[str, int]:
    """TPC-H-shaped tables plus an events stream with the columns the
    headline queries read; row counts follow the scale factor (sf0.1:
    600k lineitem, 150k orders, 15k customer, 100k events)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_li, n_ord, n_cust, n_ev = (
        int(6_000_000 * sf), int(1_500_000 * sf), int(150_000 * sf), int(1_000_000 * sf)
    )
    day = np.datetime64("1992-01-01T00:00:00", "us")
    tables = {
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(900, 500_000, n_ord), 2),
            "o_orderdate": day + rng.integers(0, 2400, n_ord) * np.timedelta64(86_400_000_000, "us"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, 20_000, n_li),
            "l_suppkey": rng.integers(0, 1_000, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100_000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": day + rng.integers(0, 2500, n_li) * np.timedelta64(86_400_000_000, "us"),
        }),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us")
            + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1_500, n_ev),
            "event_type": rng.choice(["click", "view", "purchase", "error", "signup"], n_ev),
            "value": np.round(rng.uniform(0, 200, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
    }
    return {
        name: write_parquet(t, os.path.join(out_dir, f"{name}.parquet"))
        for name, t in tables.items()
    }


# -- dedup_hygiene -----------------------------------------------------------

CHAIN_EDGES = 2


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """Random 3-8 character words over a 36-symbol alphabet: unrelated
    documents share almost no character 5-shingles."""
    lens = rng.integers(3, 9, n)
    chars = ALPHABET[rng.integers(0, len(ALPHABET), int(lens.sum()))]
    out, pos = [], 0
    for n_c in lens:
        out.append("".join(chars[pos:pos + n_c]))
        pos += n_c
    return out


def hygiene_docs(seed: int, n_docs: int, n_clusters: int) -> tuple[pa.Table, dict]:
    """Documents (doc_id long, text) with planted near-duplicates.

    - ``n_clusters`` clusters of 2-5 near-copies (two words of sixty
      replaced per copy): every pair inside a cluster is a near-duplicate.
    - one chain of CHAIN_EDGES + 1 documents where document i is blocks
      (B_i, B_i+1): neighbours share one block (Jaccard about 1/3),
      documents two apart share nothing. Its ids rise along the chain,
      so min-label propagation needs CHAIN_EDGES rounds to settle.
    - the rest are unrelated single documents.
    Ids are drawn as a seeded permutation, except the chain, which takes
    the smallest ids in order.
    """
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    groups: list[list[int]] = []
    blocks = [_words(rng, 30) for _ in range(CHAIN_EDGES + 2)]
    chain = []
    for i in range(CHAIN_EDGES + 1):
        chain.append(len(texts))
        texts.append(" ".join(blocks[i] + blocks[i + 1]))
    groups.append(chain)
    for _ in range(n_clusters):
        base = _words(rng, 60)
        members = []
        for _ in range(int(rng.integers(2, 6))):
            copy = list(base)
            for pos in rng.choice(60, 2, replace=False):
                copy[pos] = _words(rng, 1)[0]
            members.append(len(texts))
            texts.append(" ".join(copy))
        groups.append(members)
    while len(texts) < n_docs:
        texts.append(" ".join(_words(rng, int(rng.integers(40, 80)))))
    # chain keeps ids 0..CHAIN_EDGES in chain order; the rest are shuffled
    rest = rng.permutation(np.arange(len(chain), len(texts)))
    ids = np.concatenate([np.arange(len(chain)), rest]).astype(np.int64)
    order = np.argsort(ids)
    table = pa.table({
        "doc_id": ids[order],
        "text": pa.array([texts[i] for i in order], pa.string()),
    })
    planted = [[int(ids[m]) for m in g] for g in groups]
    return table, {"groups": planted, "chain": planted[0]}


def hygiene_embeddings(
    seed: int, n_vec: int, dim: int = 64, k: int = 16, hot_share: float = 0.25,
    dup_share: float = 0.05,
) -> tuple[pa.Table, list[list[float]]]:
    """Vectors around ``k`` centroids; ``hot_share`` of them crowd one
    centroid (the oversized cluster SemDeDup compares quadratically) and
    ``dup_share`` are small perturbations of an earlier vector."""
    rng = np.random.default_rng(seed)
    cents = rng.normal(size=(k, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    p = np.full(k, (1 - hot_share) / (k - 1))
    p[0] = hot_share
    which = rng.choice(k, size=n_vec, p=p)
    x = cents[which] + rng.normal(scale=0.35, size=(n_vec, dim))
    n_dup = int(n_vec * dup_share)
    src = rng.choice(n_vec // 2, size=n_dup, replace=False)
    dst = n_vec // 2 + rng.choice(n_vec - n_vec // 2, size=n_dup, replace=False)
    x[dst] = x[src] + rng.normal(scale=0.01, size=(n_dup, dim))
    x = np.round(x, 5)
    table = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float64())),
    })
    return table, [[float(v) for v in c] for c in cents]


def hygiene_tokens(
    seed: int, n_rows: int, n_bench: int, contaminated_share: float = 0.05
) -> tuple[pa.Table, pa.Table]:
    """Corpus token rows and a held-out benchmark set; a seeded share of
    corpus rows embeds a 12-token span copied from a benchmark row."""
    rng = np.random.default_rng(seed)

    def rows(n, lo, hi):
        lens = rng.integers(lo, hi, n)
        return [rng.integers(0, VOCAB, int(m), dtype=np.int32) for m in lens]

    bench = rows(n_bench, 40, 120)
    corpus = rows(n_rows, 40, 200)
    for i in rng.choice(n_rows, int(n_rows * contaminated_share), replace=False):
        b = bench[int(rng.integers(0, n_bench))]
        start = int(rng.integers(0, len(b) - 12))
        at = int(rng.integers(0, len(corpus[i]) - 12))
        corpus[i][at:at + 12] = b[start:start + 12]

    def table(arrs, prefix):
        return pa.table({
            "doc_id": [f"{prefix}-{i:07d}" for i in range(len(arrs))],
            "tokens": pa.array([a.tolist() for a in arrs], pa.list_(pa.int32())),
        })

    return table(corpus, "doc"), table(bench, "bench")

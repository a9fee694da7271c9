"""The benchmark's workloads. Each is a closed loop with one client:
a pass runs the workload's operations one after another, and the next
pass starts only when the previous one has finished and been checked.

A workload provides ``prepare`` (inputs, untimed), ``warm`` (untimed
warm-up), ``run_pass`` (timed operations), ``check`` (independent
verification, untimed), ``selfcheck`` (the checker must reject a wrong
result), ``report`` (its own figures by name) and ``layers`` (per-layer
figures from a traced pass).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import numpy as np

import checks
import gen
from common import cpu_seconds, dir_bytes, median, percentile, rmtree


class OpFailed(Exception):
    pass


class Pass:
    """Operations of one pass: name, latency and error, in order."""

    def __init__(self, ctx, idx: int):
        self.ctx, self.idx = ctx, idx
        self.ops: list[dict] = []
        self.out: dict = {}
        self.errors: dict[str, list[str]] = {}

    @contextmanager
    def op(self, name: str):
        rec = {"name": name, "s": None, "cpu_s": None, "error": None}
        self.ops.append(rec)
        c0 = cpu_seconds(self.ctx.spark)
        t0 = time.perf_counter()
        try:
            with self.ctx.tracer.span(f"op.{name}"):
                yield rec
        except Exception as e:  # the op raised: it failed, the pass stops
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            raise OpFailed(name) from e
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["cpu_s"] = cpu_seconds(self.ctx.spark) - c0

    @property
    def wall_s(self) -> float:
        return sum(o["s"] for o in self.ops)

    @property
    def cpu_s(self) -> float:
        return sum(o["cpu_s"] for o in self.ops)


# -- bulk_ingest ---------------------------------------------------------------------


class BulkIngest:
    """NorthStarPipeline(dedup="exact", quarantine=True).run() then
    pack_sinks(seq_len=2048, materialize=True) on a fresh warehouse."""

    name = "bulk_ingest"
    ROWS = 10_000
    # one untimed pass takes the first-run cost (code generation, class
    # loading); the write path's JIT still improves after it, so a fixed
    # three passes are timed and their median reported
    WARM_PASSES = 1
    MIN_PASSES = 3

    def prepare(self, ctx):
        self.input_dir = os.path.join(ctx.work, "tokens")
        table = gen.tokens_table(ctx.seed, self.ROWS)
        self.input_rows = table.num_rows
        self.input_bytes = gen.write_parquet(table, self.input_dir, n_files=2 * ctx.cores)
        self.con = checks.connect(ctx.work)

    def _ingest(self, ctx, p: Pass, input_dir: str, wh: str):
        from qsvspark.pipeline.northstar import NorthStarPipeline

        with p.op("run"):
            pipe = NorthStarPipeline(ctx.spark, wh, dedup="exact", quarantine=True)
            p.out["run"] = pipe.run(ctx.spark.read.parquet(input_dir), f"perfbench-{ctx.seed}")
        with p.op("pack"):
            pipe.pack_sinks(seq_len=2048, materialize=True)

    def warm(self, ctx):
        wh = os.path.join(ctx.work, "wh-warm")
        self._ingest(ctx, Pass(ctx, -1), self.input_dir, wh)
        rmtree(wh)

    def run_pass(self, ctx, p: Pass):
        p.out["wh"] = os.path.join(ctx.work, f"wh-{p.idx}")
        self._ingest(ctx, p, self.input_dir, p.out["wh"])

    def check(self, ctx, p: Pass):
        wh = p.out["wh"]
        p.out["files"], p.out["bytes"] = dir_bytes(wh)
        counts = dict(p.out["run"]["per_sink_counts"])
        if ctx.inject_fault and p.idx == 0:
            k = sorted(counts)[0]
            counts[k] = int(counts[k]) + 1  # deliberately wrong: one row too many
        errs, info = checks.bulk(
            self.con, os.path.join(self.input_dir, "*.parquet"), wh, counts)
        p.out.update(info)
        rmtree(wh)
        return {k: v for k, v in errs.items() if v}

    def selfcheck(self, ctx, p: Pass) -> bool:
        """A per-sink count off by one must be reported."""
        counts = dict(p.out["run"]["per_sink_counts"])
        k = sorted(counts)[0]
        counts[k] = int(counts[k]) + 1
        return not checks.counts_match(counts, p.out["expected_sink"])

    def report(self, passes):
        walls = [p.wall_s for p in passes]
        return {
            "bulk_seq_per_s": (self.input_rows / median(walls), "1/s"),
            "bulk_storage_ratio": (median([p.out["bytes"] for p in passes]) / self.input_bytes, "ratio"),
        }

    def layers(self, ctx, tree, p: Pass) -> dict:
        m = {}
        run = tree.find("pipeline.run", within=p.out["span"])
        pack = tree.find("pipeline.pack_sinks", within=p.out["span"])
        routes = [i for r in run for i in tree.find("catalog.write:routed", within=r)]
        aggs = [i for r in run for i in tree.find("catalog.write:aggregates", within=r)]
        m["route.wall_s"] = sum(tree.duration(i) for i in routes)
        m["route.exec_cpu_s"] = sum(tree.stage_sum(i, "cpu_ns") for i in routes) / 1e9
        m["route.gc_s"] = sum(tree.stage_sum(i, "gc_ms") for i in routes) / 1e3
        m["route.shuffle_bytes"] = sum(tree.stage_sum(i, "shuffle_write") for i in routes)
        m["route.spill_bytes"] = sum(tree.stage_sum(i, "spill_disk") for i in routes)
        m["route.output_bytes"] = sum(tree.stage_sum(i, "output_bytes") for i in routes)
        r = p.out["run"]
        m["dedup.dropped_share"] = r.get("duplicates_dropped", 0) / max(r.get("input_rows", 1), 1)
        for reason in gen.BAD_REASONS:
            m[f"quarantine.rows.{reason}"] = p.out["reasons"].get(reason, 0)
        m["aggregate.wall_s"] = sum(tree.duration(i) for i in aggs)
        m["aggregate.shuffle_bytes"] = sum(tree.stage_sum(i, "shuffle_write") for i in aggs)
        skews = [ctx.skew(st) for i in aggs for st in tree.stages(i) if st["tasks"] >= 2]
        m["aggregate.task_skew"] = max([s for s in skews if s] or [0.0])
        layout = [i for k in pack for i in tree.find("catalog.write:packed", within=k)]
        mat = [i for k in pack for i in tree.find("catalog.write:sequences", within=k)]
        m["pack.layout_s"] = sum(tree.duration(i) for i in layout)
        m["pack.materialize_s"] = sum(tree.duration(i) for i in mat)
        m["pack.fill_ratio"] = p.out["fill_ratio"]
        m["pack.shuffle_bytes"] = sum(tree.stage_sum(i, "shuffle_write") for i in pack)
        m.update(catalog_layers(tree, p))
        return m


def catalog_layers(tree, p: Pass) -> dict:
    within = p.out["span"]
    writes = tree.outermost(tree.find("catalog.write", within=within, prefix=True))
    reads = tree.outermost(
        tree.find("catalog.read", within=within, prefix=True)
    )
    meta = tree.outermost(
        tree.find("catalog.manifest", within=within, prefix=True)
        + tree.find("catalog.find_committed", within=within, prefix=True)
    )
    return {
        "catalog.write_s": sum(tree.duration(i) for i in writes),
        "catalog.commit_s": sum(tree.driver_gap(i) for i in writes),
        "catalog.read_s": sum(tree.duration(i) for i in reads),
        "catalog.metadata_ms": 1e3 * sum(tree.duration(i) for i in meta),
        "catalog.files_written": p.out.get("files", 0),
        "catalog.bytes_written": p.out.get("bytes", 0),
    }


# -- query_mix -------------------------------------------------------------------------

HEADLINE = [
    "select", "isin_numeric", "grep", "sed", "sort_head", "uniq", "count",
    "pivot", "timeline", "timeslice", "join", "stats", "changetz", "convert",
]


class QueryMix:
    """The headline queries of ``__spark_entry__.queries()``, one at a
    time in a seeded order per pass, each timed from building the Q chain
    to a finished ``to_pandas``."""

    SF = 0.1

    def prepare(self, ctx):
        import __spark_entry__ as entry

        self.data_dir = os.path.join(ctx.work, "tables")
        gen.query_tables(ctx.seed, self.data_dir, self.SF)
        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        self.con = checks.connect(ctx.work)
        self.oracle = None

    def _run(self, ctx, p: Pass, order, data_dir):
        from qsvspark.engine import Q

        for name in order:
            with p.op(name):
                with ctx.tracer.span("query.build"):
                    df = self.queries[name](ctx.spark, data_dir)
                pdf = Q.from_df(df).to_pandas()
            p.out.setdefault("fp", {})[name] = checks.fingerprint(pdf)
            p.out.setdefault("rows", {})[name] = len(pdf)

    def warm(self, ctx):
        # the timed tables: after a warm-up on small ones the first timed
        # pass still ran about 20 % slower than the second
        self._run(ctx, Pass(ctx, -1), HEADLINE, self.data_dir)

    def run_pass(self, ctx, p: Pass):
        rng = np.random.default_rng([ctx.seed, p.idx])
        order = [HEADLINE[i] for i in rng.permutation(len(HEADLINE))]
        self._run(ctx, p, order, self.data_dir)

    def check(self, ctx, p: Pass):
        if self.oracle is None:
            self.oracle = checks.oracle_fingerprints(
                self.con, self.data_dir, HEADLINE, self.oracle_sql)
        errs = {}
        for name, fp in p.out.get("fp", {}).items():
            if ctx.inject_fault and p.idx == 0 and name == HEADLINE[0]:
                fp = (fp[0], fp[1] - 1, fp[2])  # deliberately wrong: a row lost
            if fp != self.oracle[name]:
                errs[name] = [f"result differs from the DuckDB oracle "
                              f"({fp[1]} rows vs {self.oracle[name][1]})"]
        return errs

    def selfcheck(self, ctx, p: Pass) -> bool:
        fp = p.out["fp"][HEADLINE[0]]
        return (fp[0], fp[1], fp[2] + 1) != self.oracle[HEADLINE[0]]

    def report(self, passes):
        lat = [o["s"] * 1e3 for p in passes for o in p.ops if o["name"] in HEADLINE]
        return {
            "query_p50_ms": (median(lat), "ms"),
            "query_p95_ms": (percentile(lat, 0.95), "ms"),
            "query_samples": (len(lat), "count"),
        }

    def layers(self, ctx, tree, p: Pass) -> dict:
        ops = [i for i in tree.find("op.", within=p.out["span"], prefix=True)
               if tree.spans[i]["name"][3:] in HEADLINE]
        builds = tree.find("query.build", within=p.out["span"])
        finals = tree.find("Q.to_pandas", within=p.out["span"])
        return {
            "engine.build_ms": 1e3 * median([tree.duration(i) for i in builds]),
            "engine.jobs_at_build": sum(len(tree.jobs(i)) for i in builds),
            "sinks.action_ms": 1e3 * median([tree.duration(i) for i in finals]),
            "sinks.result_rows": sum(p.out["rows"].values()),
            "query.jobs": sum(len(tree.jobs(i)) for i in ops),
            "query.driver_gap_ms": 1e3 * median([tree.driver_gap(i) for i in ops]),
        }


# -- dedup_hygiene -------------------------------------------------------------------

LSH = {"num_hashes": 80, "bands": 40, "k": 5}
HYGIENE_OPS = ("lsh", "dedup_groups", "semdedup", "decontam")
SEMDEDUP_THRESHOLD = 0.95
DECONTAM_N = 8


class DedupHygiene:
    """minhash_lsh_pairs → keep_representatives over documents with
    planted near-duplicates, semantic_dedup(method="blas") over embeddings
    with one oversized cluster, decontaminate_stage against a held-out
    token set."""

    DOCS, CLUSTERS, VECS, ROWS, BENCH = 400, 12, 800, 1_000, 100

    def prepare(self, ctx):
        d = os.path.join(ctx.work, "hygiene")
        os.makedirs(d, exist_ok=True)
        docs, planted = gen.hygiene_docs(ctx.seed, self.DOCS, self.CLUSTERS)
        emb, cents = gen.hygiene_embeddings(ctx.seed, self.VECS)
        corpus, bench = gen.hygiene_tokens(ctx.seed, self.ROWS, self.BENCH)
        for name, t in (("docs", docs), ("emb", emb), ("corpus", corpus), ("bench", bench)):
            gen.write_parquet(t, os.path.join(d, name), n_files=ctx.cores)
        self.inp = {"dir": d, "docs": docs, "planted": planted, "emb": emb,
                    "centroids": cents, "corpus": corpus, "bench": bench}
        self.expected = None

    def _run(self, ctx, p: Pass, inp):
        from pyspark.sql import functions as F

        from qsvspark.functions import dedup, similarity
        from qsvspark.pipeline import northstar

        spark, d = ctx.spark, inp["dir"]
        with p.op("lsh"):
            docs = spark.read.parquet(os.path.join(d, "docs"))
            pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id", **LSH).collect()
        p.out["pairs"] = sorted((r.id_a, r.id_b) for r in pairs)
        with p.op("dedup_groups"):
            pairs_df = spark.createDataFrame(p.out["pairs"], "id_a long, id_b long")
            kept = dedup.keep_representatives(docs.select("doc_id"), pairs_df).collect()
        p.out["kept"] = {r.doc_id for r in kept}
        with p.op("semdedup"):
            emb = spark.read.parquet(os.path.join(d, "emb"))
            p.out["semdedup"] = similarity.semantic_dedup(
                emb, inp["centroids"], SEMDEDUP_THRESHOLD, method="blas").toPandas()
        with p.op("decontam"):
            corpus = spark.read.parquet(os.path.join(d, "corpus"))
            bench = spark.read.parquet(os.path.join(d, "bench"))
            clean = northstar.decontaminate_stage(corpus, bench, n=DECONTAM_N)
            p.out["decontam"] = {r.doc_id for r in clean.select(F.col("doc_id")).collect()}

    def warm(self, ctx):
        # full-size inputs: a warm-up on smaller ones left minhash about
        # 40 % slower in the first timed pass
        self._run(ctx, Pass(ctx, -1), self.inp)

    def run_pass(self, ctx, p: Pass):
        self._run(ctx, p, self.inp)

    def _expected(self):
        inp = self.inp
        ids = inp["docs"].column("doc_id").to_numpy()
        emb = inp["emb"]
        corpus_ids = inp["corpus"].column("doc_id").to_pylist()
        kept = checks.decontam_kept(
            corpus_ids,
            [np.asarray(t, dtype=np.int64) for t in inp["corpus"].column("tokens").to_pylist()],
            [np.asarray(t, dtype=np.int64) for t in inp["bench"].column("tokens").to_pylist()],
            DECONTAM_N,
        )
        return {
            "ids": set(int(i) for i in ids),
            "vec_ids": emb.column("vec_id").to_numpy(),
            "vecs": np.array(emb.column("embedding").to_pylist()),
            "decontam": kept,
        }

    def check(self, ctx, p: Pass):
        if self.expected is None:
            self.expected = self._expected()
        e = self.expected
        pairs = p.out.get("pairs")
        if pairs is None:  # the lsh op raised; nothing below ran
            return {}
        clusters = self.inp["planted"]["groups"][1:]  # groups[0] is the chain
        errs = {"lsh": checks.lsh_pairs(pairs, e["ids"], clusters)}
        if "kept" in p.out:
            want = checks.union_find_kept(e["ids"], pairs)
            got = p.out["kept"]
            if ctx.inject_fault and p.idx == 0:
                got = got - {min(got)}  # deliberately wrong: one kept doc dropped
            if got != want:
                errs["dedup_groups"] = [f"kept {len(got)} docs, union-find keeps {len(want)}"]
        if "semdedup" in p.out:
            errs["semdedup"] = checks.semdedup(
                e["vec_ids"], e["vecs"], self.inp["centroids"], SEMDEDUP_THRESHOLD,
                p.out["semdedup"])
        if "decontam" in p.out and p.out["decontam"] != e["decontam"]:
            errs["decontam"] = [f"{len(p.out['decontam'] ^ e['decontam'])} docs differ"]
        groups = self.inp["planted"]["groups"]
        member = {i: g for g, ids in enumerate(groups) for i in ids}
        p.out["true_pair_share"] = (
            sum(1 for a, b in pairs if a in member and member[a] == member.get(b)) / len(pairs)
            if pairs else 0.0
        )
        chain = self.inp["planted"]["chain"]
        found = set(pairs)
        p.out["chain_links"] = sum((a, b) in found for a, b in zip(chain, chain[1:]))
        p.out["label_rounds"] = checks.label_rounds(pairs)
        return {k: v for k, v in errs.items() if v}

    def selfcheck(self, ctx, p: Pass) -> bool:
        """One kept doc dropped, and one planted pair lost, must both be
        reported."""
        want = checks.union_find_kept(self.expected["ids"], p.out["pairs"])
        clusters = self.inp["planted"]["groups"][1:]
        a, b = sorted(clusters[0])[:2]
        lost = [q for q in p.out["pairs"] if q != (a, b)]
        return (want != p.out["kept"] - {min(p.out["kept"])}
                and bool(checks.lsh_pairs(lost, self.expected["ids"], clusters)))

    def report(self, passes):
        return {
            "hygiene_wall_s": (median([
                sum(o["s"] for o in p.ops if o["name"] in HYGIENE_OPS) for p in passes]), "s"),
            "lsh_candidate_pairs": (median([len(p.out["pairs"]) for p in passes]), "count"),
            "chain_links_found": (min(p.out["chain_links"] for p in passes), "count"),
            "cc_rounds_needed": (max(p.out["label_rounds"] for p in passes), "count"),
        }

    def layers(self, ctx, tree, p: Pass) -> dict:
        def op(name):
            return tree.find(f"op.{name}", within=p.out["span"])[0]

        lsh, cc, sem, dec = op("lsh"), op("dedup_groups"), op("semdedup"), op("decontam")
        cc_spans = tree.find("dedup.connected_components", within=cc)
        sizes = p.out["semdedup"].groupby("cluster").size()
        return {
            "lsh.wall_s": tree.duration(lsh),
            "lsh.candidate_pairs": len(p.out["pairs"]),
            "lsh.true_pair_share": p.out["true_pair_share"],
            "cc.wall_s": tree.duration(cc),
            "cc.jobs": len(tree.jobs(cc)),
            "cc.rounds": sum(len(tree.find("DataFrame.count", within=i)) for i in cc_spans),
            "cc.driver_gap_s": tree.driver_gap(cc),
            "semdedup.wall_s": tree.duration(sem),
            "semdedup.max_cluster_pairs": int((sizes * (sizes - 1) // 2).max()),
            "decontam.wall_s": tree.duration(dec),
            "decontam.jobs": len(tree.jobs(dec)),
        }


class ReadMix:
    """Read-only work, one operation at a time: the headline queries in a
    seeded order, then the dedup/hygiene operators."""

    name = "read_mix"
    # two timed passes of about 15 s: a third would not fit the
    # benchmark's time budget (see NOTES.md)
    WARM_PASSES = 1
    MIN_PASSES = 2

    def __init__(self):
        self.parts = (QueryMix(), DedupHygiene())

    def prepare(self, ctx):
        for w in self.parts:
            w.prepare(ctx)

    def warm(self, ctx):
        for w in self.parts:
            w.warm(ctx)

    def run_pass(self, ctx, p: Pass):
        for w in self.parts:
            w.run_pass(ctx, p)

    def check(self, ctx, p: Pass):
        errs = {}
        for w in self.parts:
            errs.update(w.check(ctx, p))
        return errs

    def selfcheck(self, ctx, p: Pass) -> bool:
        return all(w.selfcheck(ctx, p) for w in self.parts)

    def report(self, passes):
        return {k: v for w in self.parts for k, v in w.report(passes).items()}

    def layers(self, ctx, tree, p: Pass) -> dict:
        return {k: v for w in self.parts for k, v in w.layers(ctx, tree, p).items()}


WORKLOADS = {w.name: w for w in (BulkIngest, ReadMix)}

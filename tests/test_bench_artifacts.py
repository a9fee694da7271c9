"""The bench writer contract: summary line and detail file are stamped
with ONE shared run id and the detail file is written atomically, so
BENCH_r*.json and BENCH_DETAIL.json can never describe different
executions (the round-3 artifacts did). Round 5 adds the kill-proof
delivery contract (round 4's driver artifact was rc=124/parsed:null):
a summary line is flushed after EVERY completed section, SIGTERM/SIGINT
flush before exiting, and the scaling hunt respects a total-run
deadline."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import textwrap

import bench


class TestEmitArtifacts:
    def test_shared_run_id_and_atomic_detail(self, tmp_path):
        detail_path = str(tmp_path / "BENCH_DETAIL.json")
        summary = {"metric": "m", "value": 1.0}
        detail = {"metric": "m", "value": 1.0, "queries": {"q": 0.5}}
        line = bench._emit_artifacts(summary, detail, detail_path)
        parsed = json.loads(line)
        on_disk = json.load(open(detail_path))
        assert parsed["run_id"] == on_disk["run_id"]
        assert parsed["run_id"].startswith("run-")
        # atomic: no tmp residue next to the final file
        assert not os.path.exists(detail_path + ".tmp")

    def test_preserves_caller_run_id(self, tmp_path):
        detail_path = str(tmp_path / "d.json")
        line = bench._emit_artifacts(
            {"run_id": "run-fixed"}, {}, detail_path
        )
        assert json.loads(line)["run_id"] == "run-fixed"
        assert json.load(open(detail_path))["run_id"] == "run-fixed"

    def test_per_section_flush_is_parseable_and_marked_partial(
        self, tmp_path, capsys
    ):
        """Every completed section prints a full summary line with
        partial=true; the final flush drops the flag. A consumer taking
        the LAST parseable stdout line always sees the latest state."""
        detail_path = str(tmp_path / "d.json")
        state = {
            "run_id": "run-flush-test",
            "sf": 0.1,
            "sections_done": ["headline"],
            "timings": {"q": 1.5},
            "steady": {"q": 0.5},
            "ext_timings": {},
            "ext_steady": {},
            "query_errors": {},
            "section_probes": {"before_headline_gbps": 19.0},
        }
        line1 = bench._flush_state(state, detail_path)
        p1 = json.loads(line1)
        assert p1["partial"] is True
        assert p1["sections_done"] == ["headline"]
        assert p1["value"] == 1.5 and p1["run_id"] == "run-flush-test"
        # a later section appears in the next flush; final drops partial
        state["sections_done"].append("extensions")
        state["ext_timings"]["seq_pack"] = 0.6
        p2 = json.loads(bench._flush_state(state, detail_path, final=True))
        assert "partial" not in p2
        assert p2["extensions"] == {"seq_pack": 0.6}
        # detail file matches the last flush
        on_disk = json.load(open(detail_path))
        assert on_disk["run_id"] == "run-flush-test"
        assert on_disk["extensions"] == {"seq_pack": 0.6}

    def test_sigterm_flushes_summary_before_exit(self, tmp_path):
        """The driver kills the bench with `timeout` (SIGTERM). The trap
        must flush a parseable summary line recording the signal, then
        exit 128+15 — round 4's artifact died without one."""
        detail_path = str(tmp_path / "d.json")
        script = textwrap.dedent(f"""
            import json, os, sys, time
            sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
            import bench
            state = {{
                "run_id": "run-sig-test", "sf": 0.1,
                "sections_done": ["headline"],
                "timings": {{"q": 2.0}}, "steady": {{}},
                "ext_timings": {{}}, "ext_steady": {{}},
                "query_errors": {{}}, "section_probes": {{}},
            }}
            bench._install_signal_flush(state, {detail_path!r})
            print("READY", flush=True)
            time.sleep(60)
        """)
        proc = subprocess.Popen(
            [sys.executable, "-c", script],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        assert proc.stdout.readline().strip() == "READY"
        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=30)
        assert proc.returncode == 128 + signal.SIGTERM
        lines = [l for l in out.strip().splitlines() if l.startswith("{")]
        assert lines, f"no JSON line flushed, got: {out!r}"
        parsed = json.loads(lines[-1])
        assert parsed["run_id"] == "run-sig-test"
        assert parsed["partial"] is True
        assert parsed["sections_done"] == ["headline"]
        # a kill is reported as a kill, never as a query error
        assert parsed["errors_count"] == 0
        assert parsed["killed_by_signal"]["signal"] == signal.SIGTERM
        on_disk = json.load(open(detail_path))
        assert "errors" not in on_disk
        assert on_disk["killed_by_signal"]["signal"] == signal.SIGTERM

    def test_total_deadline_math(self, monkeypatch):
        """TOTAL_BUDGET bounds the scaling hunt: the section deadline and
        the hunt deadline must stay ahead of the driver's outer kill."""
        monkeypatch.setattr(bench, "TOTAL_BUDGET", 100)
        monkeypatch.setattr(bench, "_RUN_T0", 1000.0)
        assert bench._total_deadline() == 1100.0
        monkeypatch.setattr(bench, "TOTAL_BUDGET", 0)
        assert bench._total_deadline() == float("inf")

    def test_line_cap_drops_cold_timings_before_evidence(self, tmp_path):
        detail_path = str(tmp_path / "d.json")
        big = {f"q{i}": 1.234 for i in range(400)}
        summary = {
            "queries": dict(big),
            "extensions": dict(big),
            "extensions_steady": {"e": 1.0},
            "skew": {"join_salted_speedup": 3.2},
            "sf1": {"pipeline_seq_per_sec": 1.0},
        }
        line = bench._emit_artifacts(summary, dict(summary), detail_path,
                                     max_line=2000)
        parsed = json.loads(line)
        assert len(line) <= 2000
        # evidence sections survive; bulky cold timings are dropped first
        assert "skew" in parsed and "sf1" in parsed
        assert "queries" not in parsed
        # the detail file keeps EVERYTHING regardless of the line cap
        assert "queries" in json.load(open(detail_path))


class TestDeliveryBounds:
    """The summary line must fit a 2,000-byte stdout tail window with
    room to spare, and the total-run deadline must sit below the outer
    3,600 s kill."""

    def test_defaults(self):
        import inspect

        default = inspect.signature(bench._emit_artifacts).parameters["max_line"]
        assert default.default <= 1500
        if "QSVSPARK_BENCH_TOTAL_BUDGET" not in os.environ:
            assert 0 < bench.TOTAL_BUDGET <= 3200

    def _full_state(self):
        q = {n: 0.123 for n in bench.HEADLINE}
        ext = {f"extension_{i:02d}": 1.234 for i in range(19)}
        return {
            "run_id": "run-full", "sf": 0.1,
            "sections_done": ["headline", "extensions", "pipeline", "skew",
                              "sf1", "scaling"],
            "timings": q, "steady": dict(q),
            "ext_timings": ext, "ext_steady": dict(ext),
            "query_errors": {},
            "section_probes": {"before_headline_gbps": 7.41,
                               "between_gbps": 19.86,
                               "after_extensions_gbps": 18.2},
            "pipeline": {
                "rows": 4000000, "seconds": 21.487, "sequences_per_sec": 186161.9,
                "increment": {"sequences_per_sec": 123456.7},
                "pack": {"rows_per_sec": 654321.0},
                "sequences": {"tokens_per_sec": 29000000.0},
            },
            "skew": {"rows": 4000000,
                     "agg": {"speedup": 2.27, "skew_neutral_by_plan": True,
                             "results_match": True},
                     "join": {"speedup": 4.02, "results_match": True}},
            "sf1": {"rows_tokens": 40000000,
                    "pipeline": {"sequences_per_sec": 215000.0},
                    "increment": {"sequences_per_sec": 190000.0},
                    "per_row_rate_ratio": {n: 1.05 for n in bench.SF1_QUERIES}},
            "scaling": {"rows": 12000000, "scaling_efficiency": 0.863,
                        "counts_match": True, "phase": "clean",
                        "hw_pair_efficiency": 0.91, "job_vs_hw_ceiling": 0.95,
                        "bandwidth_capped": False,
                        "pairs": {"1v4": {"scaling_efficiency": 0.863}},
                        "errors": []},
        }

    def test_full_summary_fits_and_keeps_evidence(self, tmp_path):
        """A complete run's summary fits the default cap by dropping the
        per-query maps first; the headline and evidence sections stay."""
        detail_path = str(tmp_path / "d.json")
        state = self._full_state()
        line = bench._flush_state(state, detail_path, final=True)
        parsed = json.loads(line)
        assert len(line) <= 1500
        assert "queries" not in parsed and "extensions" not in parsed
        for key in ("value", "value_steady", "pipeline", "scaling", "run_id"):
            assert parsed.get(key) is not None, key
        assert parsed["scaling"]["scaling_efficiency"] == 0.863
        assert json.load(open(detail_path))["queries"] == state["timings"]

    def test_oversized_summary_keeps_scalar_headline(self, tmp_path):
        summary = {"value": 1.0, "run_id": "run-x",
                   "sections_done": ["s" * 3000], "pipeline": {"k": "v" * 3000}}
        line = bench._emit_artifacts(summary, {}, str(tmp_path / "d.json"))
        parsed = json.loads(line)
        assert len(line) <= 1500
        assert parsed["value"] == 1.0 and parsed["truncated"] is True

#!/usr/bin/env python3
"""Smoke test of the benchmark: tiny inputs (sf0.001 tables, 0.5 MB CSVs).

Runs every workload once with --trace 1 and csv_etl once more with
--trace 0, and asserts that every named end-to-end and per-layer metric
prints with its unit and that no operation failed. Run from the
repository root:

    python3 perfbench/test/smoke.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)

REPORT_E2E = {
    "csv_etl": ["csv_read_mbps", "csv_quoted_mbps", "csv_write_mbps", "csv_pass_s"],
    "sql_analytics": ["sql_pass_s", "sql_query_p50_s", "sql_query_p90_s"],
    "llm_pipeline": ["llm_pass_s", "llm_query_p90_s", "ingest_build_s",
                     "ingest_serve_s", "store_mb"],
}
COMMON_E2E = ["setup_s", "setup_cold_s", "peak_rss_mb", "failed_ops_frac"]
LAYERS = {
    "csv_etl": ["sources.read_s", "sources.read_typed_s", "sources.count_only_s",
                "sources.read_quoted_s", "sources.validate_s", "sources.write_s",
                "operators.stats_profile_s", "operators.heavy_hitters_s",
                "operators.filter_sort_head_s"],
    "sql_analytics": ["queries.agg_s", "queries.join_s", "queries.window_s",
                      "plans.asof_range_s", "queries.tpch_s"],
    "llm_pipeline": ["functions.doc_features_s", "operators.minhash_s",
                     "operators.lsh_s", "operators.tfcos_s", "operators.edit_s",
                     "operators.spans_s", "operators.ngram_s", "operators.bm25_s",
                     "operators.text_project_s", "stores.ivf.build_s",
                     "stores.ivf.serve_s"],
}


def run(workload, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    assert out.returncode == 0 and lines, f"{workload}: exit {out.returncode}\n{out.stderr[-3000:]}"
    report = json.loads(next(l for l in lines if l.startswith("REPORT "))[len("REPORT "):])
    return report, json.loads(lines[-1])


def named(metric, where, name):
    assert isinstance(metric, list) and len(metric) == 2, f"{where}: {name} missing"
    value, unit = metric
    assert isinstance(value, (int, float)) and unit, f"{where}: {name} has no value/unit"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in ("csv_etl", "sql_analytics", "llm_pipeline"):
        report, last = run(w, 1)
        assert last["failed"] == 0 and last["correct"], f"{w}: {report['failures']}"
        assert report["failed_ops_frac"][0] == 0
        for m in spec["per_layer"]:
            got = last["metrics"][m["name"]]
            assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float)), m
        for name in COMMON_E2E + REPORT_E2E[w]:
            named(report.get(name), w, name)
        for name in LAYERS[w]:
            named(report["layers"].get(name), w, name)
        named(report.get("spark.spill_mb"), w, "spark.spill_mb")
        assert report["trace_identity_max_err_s"] < 1e-6, report["trace_identity_max_err_s"]
        print(f"ok {w} (trace)")
    _, last = run("csv_etl", 0)
    assert last["correct"] and last["failed"] == 0
    for m in spec["end_to_end"]:
        got = last["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, m
    print("ok csv_etl (end to end)")


if __name__ == "__main__":
    main()

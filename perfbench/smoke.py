#!/usr/bin/env python3
"""Smoke tests of the benchmark at tiny scale (a few minutes):

1. every workload, untraced and traced, exits 0, prints every metric named
   below in its table, and ends with the JSON line BENCHMARK.json asks for;
2. the correctness check trips: with the final expectation corrupted the
   run exits 1 and reports "correct": false;
3. next to nothing but BENCHMARK.json and perfbench/, the command exits
   non-zero without printing a result.

    python3 perfbench/smoke.py
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("cow_upsert", "mor_read_mix", "corpus_dedup_ingest")
TINY = ["--scale", "tiny", "--seconds", "4"]

END_TO_END_METRICS = [
    "setup_s", "upsert_p50_s", "upsert_tail_s", "ingest_rows_per_s", "lookup_p50_s",
    "snapshot_p50_s", "incremental_p50_s", "compact_p50_s", "admit_p50_s",
    "admit_tail_s", "docs_admitted_per_s", "write_amp_rows", "space_amp",
    "failed_ops_ratio", "heap_peak_mb",
]
LAYER_METRICS = [
    "table.write." + n for n in (
        "pin_s", "tag_s", "counts_s", "stage_s", "driver_s", "jobs", "tasks",
        "shuffle_bytes", "files_written", "groups_replaced", "rows_written")
] + ["table.read." + n for n in (
    "load_s", "slices_s", "plan_s", "exec_s", "files_scanned", "log_files_scanned",
    "listing_jobs", "jobs", "rows_scanned_per_row_returned")
] + ["table.services." + n for n in (
    "compact_s", "compact_rows_rewritten", "clean_s", "files_deleted", "archive_s",
    "mdt_sync_s", "stall_s")
] + ["table.timeline." + n for n in ("instants", "meta_files", "meta_bytes")
] + ["pipeline." + n for n in (
    "gate_s", "corpus_write_s", "index_upsert_s", "jobs_per_batch", "survivor_ratio")
] + ["functions.minhash_ns_per_doc", "functions.shingle_ns_per_doc"
] + ["spark." + n for n in (
    "jobs", "stages", "tasks", "executor_run_s", "gc_s", "shuffle_write_bytes",
    "spill_bytes", "driver_gap_s", "idle_core_s")
] + ["storage." + n for n in ("bytes_written", "files_created", "files_live")]


def run(args, cwd=ROOT):
    r = subprocess.run([sys.executable] + args, cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=900)
    return r.returncode, r.stdout.splitlines(), r.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in WORKLOADS:
        for trace in (0, 1):
            code, out, err = run(["perfbench/run.py", "--workload", w, "--seed", "7",
                                  "--trace", str(trace)] + TINY)
            tag = f"{w} trace={trace}"
            expect(code == 0, f"{tag}: exit 0 (got {code}) {err[-300:] if code else ''}")
            try:
                last = json.loads(out[-1])
            except (IndexError, ValueError):
                last = {}
            expect(set(last) == {"correct", "attempted", "failed", "metrics"}
                   and last.get("correct") is True and last.get("attempted", 0) >= 1,
                   f"{tag}: last line is the result object")
            wanted = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
            expect(sorted(last.get("metrics", {})) == sorted(wanted),
                   f"{tag}: result holds exactly the BENCHMARK.json metrics")
            printed = {line.split()[0] for line in out[:-1] if line.startswith("  ")}
            names = END_TO_END_METRICS + (LAYER_METRICS if trace else [])
            missing = [n for n in names if n not in printed]
            expect(not missing, f"{tag}: every metric printed by name {missing or ''}")

    code, out, _ = run(["perfbench/run.py", "--workload", "mor_read_mix", "--seed", "7",
                        "--corrupt-expectation"] + TINY)
    expect(code == 1 and out and json.loads(out[-1])["correct"] is False,
           "corrupted expectation: exit 1 with correct=false")

    bare = os.path.join(BENCH, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns(
        ".build", ".work", "out", "target"))
    code, out, _ = run(["perfbench/run.py", "--workload", "mor_read_mix", "--seed", "1",
                        "--seconds", "20", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and not any(l.startswith("{") for l in out),
           f"without the engine sources: non-zero exit (got {code}), no result")

    print(f"\n{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

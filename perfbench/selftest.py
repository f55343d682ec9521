"""Self-test of the benchmark at tiny input size (about five minutes).

    python3 perfbench/selftest.py

1. Every workload runs once, traced, and must pass all its checks and
   report every per-layer metric that applies to it.
2. The batch workloads run again with the same seed: the curated corpus
   hash and the exact counters (stages, tasks, single-task stages,
   shuffle write, stored bytes per record, grep matches) must repeat.
3. A planted wrong expected count must make the command fail, for every
   workload.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("log_ingest_grep", "corpus_curate", "wiretap_stream")

# per-layer metrics that must be non-zero on the workload that owns them
OWNED = {
    "log_ingest_grep": [
        "sources.chunks.write_s", "sources.chunks.read_s",
        "sources.chunks.stored_bytes_per_record", "functions.codecs.decode_s",
        "operators.grep.scan_s", "operators.grep.matches",
        "operators.counts.chunked_count_s", "query.spark.tasks", "ingest.spark.stages",
    ],
    "corpus_curate": [
        "functions.text.winnow_s", "functions.text.bigram_top_s",
        "operators.textstats.winnowed_s", "operators.textstats.repetition_s",
        "operators.cleaning.clean_s", "operators.dedup.shingles_s",
        "operators.dedup.exact_s", "operators.dedup.minhash_s",
        "operators.clusters.dedup_clusters_s", "operators.contamination.overlap_s",
        "operators.sampling.split_s", "curate.staged_sum_ms",
        "curate.spark.stages", "curate.spark.shuffle_write_mb", "textsig.spark.tasks",
    ],
    "wiretap_stream": [
        "streaming.batch_ms", "streaming.batch_rows",
        "streaming.wiretap.route_deliver_ms", "deliver_p50_ms", "microbatch.spark.tasks",
    ],
}
EXACT = (
    "spark.tasks", "spark.stages", "spark.single_task_stages", "spark.shuffle_write_mb",
    "sources.chunks.stored_bytes_per_record", "operators.grep.matches",
)


def run(workload: str, seed: int, trace: int, *extra: str) -> tuple[int, dict, dict]:
    work = os.path.join(ROOT, ".bench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.NamedTemporaryFile(suffix=".json", dir=work, delete=False) as f:
        detail = f.name
    try:
        proc = subprocess.run(
            [
                sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
                "--tiny", "--detail", detail, *extra,
            ],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        with open(detail) as f:
            return proc.returncode, json.loads(last), json.load(f)
    finally:
        os.unlink(detail)


def fail(msg: str) -> None:
    print(f"FAIL: {msg}")
    sys.exit(1)


def main() -> int:
    details = {}
    for w in WORKLOADS:
        rc, out, detail = run(w, 7, 1)
        if rc != 0 or not out.get("correct"):
            fail(f"{w}: rc={rc} checks={[c for c in detail['checks'] if not c[1]]}")
        zero = [m for m in OWNED[w] if not out["metrics"].get(m, {}).get("value")]
        if zero:
            fail(f"{w}: per-layer metrics missing or zero: {zero}")
        details[w] = detail
        print(f"ok   {w}: {len(detail['checks'])} checks passed, traced metrics present")

    for w in ("log_ingest_grep", "corpus_curate"):
        rc, out, again = run(w, 7, 1)
        first = details[w]
        if rc != 0 or first["outputs"] != again["outputs"]:
            fail(f"{w} output differs across runs: {first['outputs']} vs {again['outputs']}")
        for name, (value, _) in first["metrics"].items():
            if name.endswith(EXACT) and not name.startswith("microbatch."):
                if again["metrics"][name][0] != value:
                    fail(f"{name} did not repeat: {value} vs {again['metrics'][name][0]}")
        print(f"ok   {w}: outputs and exact counters repeat across runs")

    for w in WORKLOADS:
        rc, out, _ = run(w, 7, 0, "--plant-wrong")
        if rc == 0 or out.get("correct", False):
            fail(f"{w}: a planted wrong expected count did not fail the run")
        print(f"ok   {w}: planted wrong count fails the run (rc={rc})")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

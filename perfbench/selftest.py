"""Self-test of the benchmark at a tiny size (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Asserts that every end-to-end and per-layer metric BENCHMARK.json names is
emitted with its unit on every workload, that the sf0.1-pages output digest
does not depend on the seed's row order, and that a deliberately wrong
expected output is counted as a failure (fail_ratio > 0) with its timings
kept.
"""

from __future__ import annotations

import json
import sys

import run

TINY = {
    "sf0.1-pages": {"base_docs": 300, "replicas": 0},
    "replicated": {"base_docs": 200, "replicas": 2},
}
TINY_BATCH = 100


def _units(section: str) -> dict:
    return {m["name"]: m["unit"] for m in run.declared_metrics()[section]}


def _assert_complete(result: dict, section: str, what: str) -> None:
    want = _units(section)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{what}: metrics differ from BENCHMARK.json {section}: " \
                        f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], float) and v["value"] == v["value"], f"{what}: {k}={v}"


def _run(workload: str, seed: int, trace: bool, w: dict) -> tuple[dict, dict]:
    record, result = run.run(workload, seed, 1, trace, w, TINY_BATCH)
    errors = [r.get("error") for r in record["reps"] if not r["ok"]]
    print(f"{workload} seed={seed} trace={int(trace)}: correct={result['correct']} "
          f"errors={errors}", file=sys.stderr)
    return record, result


def main() -> None:
    names = [w["name"] for w in run.declared_metrics()["workloads"]]
    assert sorted(names) == sorted(run.WORKLOADS) == sorted(TINY), names
    digests = []
    for workload, w in TINY.items():
        for trace in (False, True):
            record, result = _run(workload, 0, trace, w)
            assert result["correct"] and record["fail_ratio"] == 0, record["reps"]
            _assert_complete(result, "per_layer" if trace else "end_to_end",
                             f"{workload} trace={int(trace)}")
            if workload == "sf0.1-pages":
                digests.append(record["reps"][0]["check"]["digest"])
    record, result = _run("sf0.1-pages", 1, False, TINY["sf0.1-pages"])
    assert result["correct"], record["reps"]
    digests.append(record["reps"][0]["check"]["digest"])
    assert len(set(digests)) == 1, f"sf0.1-pages digest depends on row order: {digests}"

    wrong = dict(TINY["sf0.1-pages"], expect={"canonical": -1})
    record, result = _run("sf0.1-pages", 0, False, wrong)
    assert record["fail_ratio"] > 0 and not result["correct"], record
    assert "e2e_s" in result["metrics"], "a failed check must keep its timing sample"
    print(json.dumps({"selftest": "ok"}))


if __name__ == "__main__":
    main()

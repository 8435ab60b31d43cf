"""Self-test of the benchmark (python3 perfbench/run.py --selftest).

For every workload in BENCHMARK.json it makes three short runs at sf0.001
with one operation (the steel fit also needs the load it depends on):
untraced and traced, each of which must be correct and print every metric
BENCHMARK.json names with its unit; then one run whose first checked
result is deliberately altered, which must be reported as not correct.
"""
import json
import os

import run as bench

OPS = {
    "lake_stream_sf001": ["p29_merge_into"],
    "steel_ml": ["load_split", "fit_LinearRegression"],
}


def main(run):
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            result, _ = run(w, 1, 1, bool(trace), data_sf="sf0.001", ops=OPS[w])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                problems.append(f"{w} trace={trace}: not correct: {result}")
            if got != want[trace]:
                missing = sorted(set(want[trace].items()) - set(got.items()))
                extra = sorted(set(got.items()) - set(want[trace].items()))
                problems.append(f"{w} trace={trace}: metrics differ: missing {missing}, extra {extra}")
            bench.log(f"selftest {w} trace={trace}: {len(got)} metrics, correct={result['correct']}")
        result, report = run(w, 1, 1, False, data_sf="sf0.001", ops=OPS[w], corrupt=True)
        if result["correct"] or not result["failed"]:
            problems.append(f"{w}: an altered result was not caught: {result}")
        bench.log(f"selftest {w} altered result: correct={result['correct']}, "
                  f"wrong={report['wrong']}")
    for p in problems:
        bench.log(f"selftest FAILED: {p}")
    print(json.dumps({"selftest": "failed" if problems else "passed", "problems": problems}))
    return 1 if problems else 0

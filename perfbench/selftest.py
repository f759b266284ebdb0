"""Self-test of the benchmark.

    python3 perfbench/selftest.py [--quick]

1. The output checkers accept an output built from the generator's
   ground truth and reject deliberately corrupted copies of it.
2. (skipped with --quick) A tiny-size run of every workload, untraced
   and traced, launched from another working directory with a clean
   environment, prints one result line whose metric names and units
   are exactly those of BENCHMARK.json and whose verdict is correct.
3. (skipped with --quick) The command fails, without a result line, in
   a directory holding only BENCHMARK.json and perfbench/.

Exit code 0 when every check passes.
"""

from __future__ import annotations

import copy
import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.harness import WORK  # noqa: E402
from perfbench.workloads import ATTRS, check_cleaning, check_extraction  # noqa: E402

FAILURES = []


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        FAILURES.append(what)


def perfect_extraction(turns):
    rows = []
    for t in turns:
        if t.family is None:
            rows.append({"strategy": "general", "status": "no_results",
                         "n_results": 0, "results": []})
        else:
            recs = gen.expected_records(t, ATTRS)
            rows.append({"strategy": gen.STRATEGY_OF[t.family], "status": "ok",
                         "n_results": len(recs), "results": recs})
        rows[-1].update(conv_id=t.conv_id, turn_idx=t.turn_idx,
                        turn_seq=t.turn_idx + 1)
    return rows


def checker_tests() -> None:
    turns = gen.markup_transcripts(7, 20)
    rows = perfect_extraction(turns)
    expect(check_extraction(rows, turns, ATTRS)[1] == 0,
           "extraction checker accepts the ground truth")
    markup = next(i for i, t in enumerate(turns) if t.family)
    corruptions = {
        "a missing row": lambda r: r.pop(markup),
        "a duplicated row": lambda r: r.append(dict(r[markup])),
        "a wrong price": lambda r: r[markup]["results"][0].update(price="£0"),
        "a lost record": lambda r: r[markup]["results"].pop(),
        "a wrong strategy": lambda r: r[markup].update(strategy="none"),
        "a wrong turn_seq": lambda r: r[markup].update(turn_seq=0),
        "a row for no input turn": lambda r: r.append(
            dict(r[markup], conv_id="conv_unknown")),
    }
    for what, corrupt in corruptions.items():
        bad = copy.deepcopy(rows)
        corrupt(bad)
        expect(check_extraction(bad, turns, ATTRS)[1] > 0,
               f"extraction checker rejects {what}")

    corpus = gen.documents(7, 60)
    text_of = {d[0]: d[1] for d in corpus.docs}
    out = [{"doc_id": i, "text": text_of[i]} for i in sorted(corpus.expected_ids)]
    n = len(corpus.docs)
    counts = {
        "rows_in": n,
        "after_quality_language": n - len(corpus.gated),
        "after_exact_dedup": n - len(corpus.gated) - len(corpus.exact_copies),
        "after_neardup_removal": n - len(corpus.gated)
        - len(corpus.exact_copies) - len(corpus.near_copies),
        "after_semantic_dedup": len(out),
        "rows_out": len(out),
    }
    expect(check_cleaning(out, counts, corpus)[1] == 0,
           "cleaning checker accepts the ground truth")
    cases = {
        "a surviving near copy": (out + [{"doc_id": min(corpus.near_copies),
                                          "text": text_of[min(corpus.near_copies)]}],
                                  counts),
        "a dropped original": (out[1:], counts),
        "an altered text": ([dict(out[0], text="x")] + out[1:], counts),
        "a wrong funnel count": (out, dict(counts, after_exact_dedup=n)),
        "rows_out unlike the output": (out, dict(counts, rows_out=len(out) + 1)),
    }
    for what, (bad_out, bad_counts) in cases.items():
        expect(check_cleaning(bad_out, bad_counts, corpus)[1] > 0,
               f"cleaning checker rejects {what}")


def clean_env() -> dict:
    return {"PATH": "/usr/bin:/bin", "HOME": os.environ.get("HOME", "/"),
            "LANG": "C.UTF-8"}


def run_tests(spec: dict) -> None:
    cwd = os.path.join(WORK, "selftest-cwd")
    os.makedirs(cwd, exist_ok=True)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                   "--workload", w["name"], "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--scale", "tiny"]
            p = subprocess.run(cmd, cwd=cwd, env=clean_env(),
                               capture_output=True, text=True, timeout=600)
            what = f"{w['name']} trace={trace}"
            lines = p.stdout.strip().splitlines()
            expect(p.returncode == 0 and len(lines) == 1,
                   f"{what}: exit 0 and one stdout line")
            if p.returncode != 0 or not lines:
                print(p.stderr[-2000:])
                continue
            res = json.loads(lines[-1])
            expect(sorted(res) == ["attempted", "correct", "failed", "metrics"],
                   f"{what}: result keys")
            expect(res["correct"] is True and res["failed"] == 0
                   and res["attempted"] >= 1, f"{what}: output correct")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{what}: metric names and units")
            expect(all(isinstance(v["value"], (int, float))
                       and math.isfinite(v["value"])
                       for v in res["metrics"].values()),
                   f"{what}: finite values")
            if trace == 0:
                expect(all(v["value"] != 0 for v in res["metrics"].values()),
                       f"{what}: no end-to-end metric is 0")
    leftovers = [d for d in os.listdir(WORK) if d.startswith(
        tuple(w["name"] for w in spec["workloads"]))]
    expect(not leftovers, "run directories removed")
    expect(os.listdir(cwd) == [], "nothing written to the working directory")


def bare_dir_test() -> None:
    bare = os.path.join(WORK, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "extract_markup", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare, env=clean_env(),
                       capture_output=True, text=True, timeout=180)
    expect(p.returncode != 0 and not p.stdout.strip(),
           "fails without a result where engine/ is absent")
    shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    checker_tests()
    if "--quick" not in sys.argv:
        bare_dir_test()
        run_tests(spec)
    print(f"{len(FAILURES)} failed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())

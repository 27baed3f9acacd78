"""Self-test: the output checks catch a wrong answer.

At tiny input sizes, each workload's entry point runs three times: once
untouched, once with the last row of a committed file dropped, and once
with one feature value perturbed. The untouched call must pass its check
and both corrupted calls must count as failed. Exit code 0 only then.
"""

from __future__ import annotations

import json
import sys

import inputs
import run
import workloads

TINY = {
    "PIT_TARGET_ROWS": 1_500,
    "CORPUS_DOCS": 300,
    "FTU_SLIDES": 2,
    "FTU_ELEMENTS_PER_SLIDE": 12,
}
SEED = 7


def main(names: list[str]) -> int:
    for k, v in TINY.items():
        setattr(inputs, k, v)
    wls = [workloads.WORKLOADS[n](SEED) for n in names]
    refs = run.references(wls)
    outcomes = []
    try:
        for wl in wls:
            work = run.STATE / "work" / wl.name
            inp = work / "input"
            spark, _ = run.start_session()
            wl.prepare(spark, inp)
            for n, corrupt in enumerate((None, "drop_row", "perturb")):
                it = run.iteration(wl, inp, work, refs[wl.name], n, False, corrupt=corrupt)
                failed = bool(it["failures"])
                outcomes.append({
                    "workload": wl.name,
                    "corruption": corrupt or "none",
                    "counted_failed": failed,
                    "as_expected": failed == (corrupt is not None),
                    "failures": it["failures"],
                })
                sys.stderr.write(
                    f"{wl.name:18s} {corrupt or 'none':9s} "
                    f"{'FAILED' if failed else 'passed':7s} {it['failures'][:1]}\n"
                )
    finally:
        run.shutdown_jvm()
    ok = all(o["as_expected"] for o in outcomes)
    result = json.dumps({"self_test_ok": ok, "seed": SEED, "sizes": TINY, "outcomes": outcomes})
    records = run.STATE / "records"
    records.mkdir(parents=True, exist_ok=True)
    (records / "selftest.json").write_text(result + "\n")
    print(result)
    return 0 if ok else 1

"""Self-test of the benchmark at tiny size (about 7 minutes on 4 vCPUs).

    python3 perfbench/selftest.py

Runs ``run.main`` in-process on tiny inputs, for every workload, untraced
and traced, and checks that:

  * every metric named in ``BENCHMARK.json`` is emitted, with its unit;
  * clean runs pass their output checks;
  * an output with one quad removed (``pages_kg``) or one wrong lifecycle
    event (``cdc_stream``) is counted as a failed op and the run is not
    reported correct.

Exits 0 when all of these hold.
"""

from __future__ import annotations

import contextlib
import functools
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import run  # noqa: E402
import workloads  # noqa: E402

TINY = {
    "pages_kg": functools.partial(workloads.PagesKG, n_pages=40),
    "cdc_stream": functools.partial(workloads.CdcStream, n_entities=8, n_snapshots=8),
}


class DropOneQuad(workloads.PagesKG):
    def observed(self, k, out):
        rows = super().observed(k, out)
        return rows[1:] if k == 0 else rows


class WrongEvent(workloads.CdcStream):
    def observed(self, k, out):
        lines = super().observed(k, out)
        if k == 0:  # snapshot 0 creates every entity: report one as an update
            i = next(i for i, line in enumerate(lines) if line.endswith("#Create> ."))
            lines[i] = lines[i].replace("#Create>", "#Update>")
        return sorted(lines)


TAMPERED = {
    "pages_kg": functools.partial(DropOneQuad, n_pages=40),
    "cdc_stream": functools.partial(WrongEvent, n_entities=8, n_snapshots=8),
}


def run_once(factory, workload: str, trace: int) -> dict:
    workloads.WORKLOADS[workload] = factory
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = run.main(["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)])
    if rc != 0:
        raise SystemExit(f"{workload} trace={trace}: exit code {rc}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    problems = []
    for w in TINY:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            res = run_once(TINY[w], w, trace)
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: clean run not correct: {res}")
            for m in spec[section]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    problems.append(f"{w} trace={trace}: metric {m['name']} missing or unit differs: {got}")
        res = run_once(TAMPERED[w], w, 0)
        if res["correct"] or res["failed"] != 1:
            problems.append(f"{w}: tampered output not counted as a failure: {res}")
    for p in problems:
        print(f"FAIL {p}")
    print("selftest:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

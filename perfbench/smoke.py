"""The benchmark's own check, at tiny input sizes:

    python3 perfbench/run.py --smoke

  * every workload, untraced and traced, runs to a result with
    ``failed == 0`` and every metric BENCHMARK.json names for that mode,
    each with its declared unit;
  * every traced op's layer parts sum to 0.9-1.1 of its wall;
  * two seeds give different VCF inputs of the same size, and one seed
    gives the same bytes twice.

Each run is its own ``run.py`` process, as the benchmark is run.
"""

from __future__ import annotations

import json
import tempfile

import inputs
import workloads
from run import run_child


def _check_inputs() -> None:
    for shape in ("panel", "rich"):
        a, b = inputs.prepare(shape, "smoke", 1), inputs.prepare(shape, "smoke", 2)
        for key in ("sites", "samples", "calls"):
            if a[key] != b[key]:
                raise AssertionError(f"{shape}: seeds differ in {key}")
        with open(a["path"], "rb") as fa, open(b["path"], "rb") as fb:
            if fa.read() == fb.read():
                raise AssertionError(f"{shape}: seeds 1 and 2 wrote the same input")
        # the same seed regenerates the same bytes (outside the cache)
        make = inputs.make_panel if shape == "panel" else inputs.make_rich
        sites = (inputs.PANEL_SITES if shape == "panel" else inputs.RICH_SITES)["smoke"]
        with tempfile.TemporaryDirectory() as d:
            again = make(d, sites, 1)
            with open(a["path"], "rb") as fa, open(again["path"], "rb") as fc:
                if fa.read() != fc.read():
                    raise AssertionError(f"{shape}: seed 1 is not reproducible")
        print(f"smoke inputs ok: {shape}")


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    _check_inputs()
    names = [w["name"] for w in bench["workloads"]]
    # workloads not listed in BENCHMARK.json are kept working here too
    names += [n for n in workloads.WORKLOADS if n not in names]
    for name in names:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            # a traced op whose layer parts miss 0.9-1.1 of its wall makes
            # the result incorrect
            _, res = run_child(name, 1, 0, trace, "smoke")
            if res["failed"] != 0 or not res["correct"] or res["attempted"] < 1:
                raise AssertionError(f"{name} trace={trace}: {res}")
            got = res["metrics"]
            for m in declared:
                if m["name"] not in got:
                    raise AssertionError(f"{name}: {m['name']} not emitted")
                if got[m["name"]]["unit"] != m["unit"]:
                    raise AssertionError(
                        f"{name}: {m['name']} unit {got[m['name']]['unit']}"
                        f" != {m['unit']}"
                    )
            extra = set(got) - {m["name"] for m in declared}
            if extra:
                raise AssertionError(f"{name}: undeclared metrics {sorted(extra)}")
            print(f"smoke ok: {name} trace={trace} "
                  f"({res['attempted']} ops, {len(got)} metrics)")
    return 0

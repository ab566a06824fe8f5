"""Self-test of the benchmark's own code.

    python3 perfbench/selftest.py            # all checks, about five minutes
    python3 perfbench/selftest.py --quick    # skip the smoke runs

1. Generator determinism: the same seed gives byte-identical inputs and
   ground truth; another seed gives other inputs.
2. Metric names: the grammar [A-Za-z0-9_.-] (a letter or digit first, at
   most 64 characters), units, at most 16 end-to-end and 128 per-layer
   metrics per run, and BENCHMARK.json agreeing with metrics.py.
3. Smoke: every workload runs on tiny inputs with tracing on, prints a
   well-formed result with every per-layer metric, and writes a span
   file holding each layer the workload reaches. Program correctness is
   the result's `correct` field, printed here, not asserted: a failing
   output check is a finding about the program, not about this code.
"""

import contextlib
import hashlib
import io
import json
import os
import re
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def digest_tree(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_determinism(tmp):
    for w in gen.GENERATORS:
        a, b, c = (os.path.join(tmp, w, x) for x in "abc")
        gen.generate(w, 5, a, "tiny")
        gen.generate(w, 5, b, "tiny")
        gen.generate(w, 6, c, "tiny")
        da, db, dc = digest_tree(a), digest_tree(b), digest_tree(c)
        assert da and da == db, f"{w}: same seed, different bytes"
        assert da != dc, f"{w}: another seed gave identical inputs"
    # one full-size generator too, the size the benchmark runs
    a, b = os.path.join(tmp, "full", "a"), os.path.join(tmp, "full", "b")
    gen.generate("loom_etl", 9, a)
    gen.generate("loom_etl", 9, b)
    assert digest_tree(a) == digest_tree(b), "loom_etl full: same seed, different bytes"
    print("ok   generator determinism")


def check_names(rows, limit, what):
    names = [r[0] for r in rows]
    assert len(names) <= limit, f"{what}: {len(names)} metrics > {limit}"
    assert len(set(names)) == len(names), f"{what}: duplicate names"
    for n, u, b in rows:
        assert NAME.match(n), f"{what}: bad name {n!r}"
        assert UNIT.match(u), f"{what}: bad unit {u!r} of {n}"
        assert b in ("higher", "lower"), f"{what}: bad direction of {n}"


def test_names():
    check_names(metrics.END_TO_END, 16, "end_to_end")
    check_names(metrics.per_layer_names(), 128, "per_layer")
    spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
    if os.path.exists(spec_path):
        with open(spec_path) as f:
            spec = json.load(f)
        assert [w["name"] for w in spec["workloads"]] == metrics.LISTED_WORKLOADS
        assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == \
            metrics.END_TO_END, "BENCHMARK.json end_to_end differs from metrics.py"
        assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == \
            metrics.per_layer_names(), "BENCHMARK.json per_layer differs from metrics.py"
        reached = {l for w in metrics.LISTED_WORKLOADS for l in metrics.WORKLOAD_LAYERS[w]}
        assert reached == set(metrics.LAYERS) - {"setup"}, \
            f"layers no listed workload reaches: {sorted(set(metrics.LAYERS) - reached)}"
        assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
                   for m in spec["end_to_end"])
        assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    print("ok   metric names and limits")


def test_smoke():
    for w in sorted(gen.GENERATORS):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = run.main(["--workload", w, "--seed", "3", "--seconds", "1", "--trace", "1"],
                          size="tiny")
        assert rc == 0, f"{w}: exit {rc}"
        lines = out.getvalue().strip().splitlines()
        res = json.loads(lines[-1])
        rec = json.loads(lines[-2])["record"]
        assert sorted(res) == ["attempted", "correct", "failed", "metrics"], res.keys()
        assert res["attempted"] >= 1 and 0 <= res["failed"] <= res["attempted"]
        want = [n for n, _, _ in metrics.per_layer_names()]
        assert list(res["metrics"]) == want, f"{w}: per-layer metric set differs"
        for n, v in res["metrics"].items():
            assert isinstance(v["value"], (int, float)), f"{w}: {n} not a number"
        with open(os.path.join(build.ROOT, rec["spans_file"])) as f:
            spans = json.load(f)
        missing = set(metrics.WORKLOAD_LAYERS[w]) - set(spans["layers"])
        assert not missing, f"{w}: span file lacks layers {sorted(missing)}"
        print(f"ok   smoke {w}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} {rec['failures'][:2]}")


def main():
    tmp = os.path.join(build.BUILD, "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        test_determinism(tmp)
        test_names()
        if "--quick" not in sys.argv:
            test_smoke()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()

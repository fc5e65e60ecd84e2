"""Benchmark entry point.

    python3 perfbench/run.py --workload wide_pages --seed 1 --seconds 15 --trace 0

Runs one workload of ``BENCHMARK.json`` from the root of a checkout, in
one Python process at ``local[nproc]``:

1. generates the workload's inputs from ``--seed``;
2. sets up once: Spark session (the JVM launch), model load and one
   untimed warm-up pass of the workload over its whole input, the same
   calls as a timed pass.  ``setup_s`` is the time from process start to
   the end of the warm-up pass, minus the input generation;
3. checks the output of the workload against ground truth (untimed);
4. repeats timed passes until ``--seconds`` of calls are measured.

With ``--trace 1`` half the measured time runs untraced and half with
spans around each layer call; it prints the per-layer table and reports
``per_layer`` metrics instead of ``end_to_end`` ones.  The last line of
stdout is one JSON object: correct, attempted, failed, metrics.
``attempted``/``failed`` count timed calls and the calls that raised.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: a traced run measures at least this many traced passes
MIN_PASSES = 2
#: per-layer units whose values must repeat exactly for a seed
EXACT_UNITS = ("count", "bytes/doc")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Timer:
    """Times calls, samples memory while they run, counts the ones that
    raise."""

    def __init__(self, sampler):
        self.sampler = sampler
        self.walls: list[float] = []
        self.peaks_mb: list[float] = []
        self.failed = 0

    def __call__(self, fn, *args):
        self.sampler.reset()
        self.sampler.active.set()
        t = time.perf_counter()
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 -- a failed call is counted, not fatal
            self.failed += 1
            traceback.print_exc()
            return None
        finally:
            self.walls.append(time.perf_counter() - t)
            self.sampler.active.clear()
            self.peaks_mb.append(self.sampler.peak_mb)


def code_digest() -> str:
    """Digest of the engine package and this directory: values recorded for
    a seed are only compared between runs of identical code."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "learnhtml_spark"), HERE):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for name in sorted(files):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def repeat_check(state_path: str, values: dict) -> list[str]:
    """Values that must repeat exactly for a seed: compare with the ones an
    earlier run of this seed and this code recorded, then record the
    union."""
    old = {}
    if os.path.exists(state_path):
        with open(state_path) as f:
            old = json.load(f)
    problems = [
        f"{k} = {v!r}, an earlier run with this seed gave {old[k]!r}"
        for k, v in values.items()
        if k in old and old[k] != v
    ]
    os.makedirs(os.path.dirname(state_path), exist_ok=True)
    with open(state_path, "w") as f:
        json.dump({**old, **values}, f, sort_keys=True)
    return problems


def main(argv) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {w["name"] for w in spec["workloads"]}
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; have {sorted(names)}",
              file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "learnhtml_spark", "__init__.py")):
        print(f"engine package learnhtml_spark not found under {ROOT}", file=sys.stderr)
        return 2

    from harness import configure_env

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(ROOT, work)
    sys.path.insert(0, ROOT)

    from harness import (
        JobCounter,
        RssSampler,
        Tracer,
        make_session,
        median,
        stop_jvm,
    )
    from workloads import MODEL_PATH, WORKLOADS

    wl = WORKLOADS[args.workload](work, args.seed)
    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t

    sampler = RssSampler()
    spark = None
    try:
        from learnhtml_spark.exact_model import load_any_model

        spark = make_session(work)
        with open(os.path.join(ROOT, MODEL_PATH), "rb") as f:
            model = f.read()
        load_any_model(model)
        warm = wl.warm_up(spark, model)
        setup_s = time.perf_counter() - T_START - gen_s

        check = wl.verify(spark, model, warm)
        timer = Timer(sampler)
        layers, tracer = defaultdict(list), Tracer(f"{args.workload}-s{args.seed}")
        budget = args.seconds / 2 if args.trace else args.seconds
        passes = 0
        while sum(timer.walls) < budget and not timer.failed:
            wl.run_pass(spark, model, timer)
            passes += 1
        docs = passes * wl.docs_per_pass
        if args.trace:
            jobs = JobCounter(spark)
            traced, t_traced = [], 0.0
            with tracer.span(f"run.{args.workload}"):
                while len(traced) < MIN_PASSES or t_traced < budget:
                    with tracer.span("pass") as p:
                        traced.append(wl.trace_pass(spark, model, tracer, jobs, layers))
                    t_traced += p.seconds
                wl.trace_extra(spark, model, tracer, jobs, layers, check)
            traced_calls = [w for walls in traced for w in walls]
            layers["trace.overhead_s"].append(
                median(traced_calls) - median(timer.walls)
            )
    finally:
        sampler.close()
        if spark is not None:
            stop_jvm(spark)

    problems = list(check.problems)
    repeat = {
        "ok_doc_frac": check.ok_docs / check.attempted,
        "output_f1": check.f1_sum / check.attempted,
    }
    if args.trace:
        wanted = spec["per_layer"]
        exact = {m["name"] for m in wanted if m["unit"] in EXACT_UNITS}
        values = {}
        for name, xs in layers.items():
            if name in exact:
                if len(set(xs)) > 1:
                    problems.append(f"{name} differs between passes: {xs}")
                repeat[name] = xs[0]
            values[name] = median(xs)
        tracer.dump(os.path.join(work, "trace.jsonl"))
        print(f"{'span':58} {'n':>4} {'total_s':>9} {'self_s':>9}")
        for name, n, total, self_s in tracer.table():
            print(f"{name:58} {n:4d} {total:9.3f} {self_s:9.3f}")
    else:
        values = {
            "setup_s": setup_s,
            "docs_per_s": docs / sum(timer.walls),
            "call_p50_s": median(timer.walls),
            **repeat,
            "peak_rss_mb": median(timer.peaks_mb),
        }
        wanted = spec["end_to_end"]
        print(f"generate_s={gen_s:.3f} calls={len(timer.walls)} "
              f"call_walls_s={[round(w, 3) for w in timer.walls]} docs={docs} "
              f"verified_docs={check.attempted}")
    problems += repeat_check(
        os.path.join(ROOT, ".perfbench", "state",
                     f"{args.workload}-s{args.seed}-{code_digest()}.json"),
        repeat,
    )
    if timer.failed:
        problems.append(f"{timer.failed} timed calls raised")
    # a layer the workload does not exercise spent no time in this run
    metrics = {
        m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
        for m in wanted
    }
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": len(timer.walls),
        "failed": timer.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

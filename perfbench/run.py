"""KG-construction benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload pipeline --seed 42 --seconds 12 --trace 0

Generates the workload's corpus from the seed, runs a cold pass whose
output it checks against the DuckDB oracle and (untraced runs only) the
workload's untimed warm-up, then runs timed passes for ``--seconds``
seconds (at least one loop), checking every pass's output digest, and
reports medians over the timed passes.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
traced and untraced full passes and reports the per-layer metrics.  The
last line of stdout is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; a fuller result file, with the environment, goes
to ``.bench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext, suppress

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "turns_per_s": "1/s",
    "triples_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "resume_s": "s",
}
#: per-layer fields of every span (row counts, which describe the corpus
#: rather than the program, are in the result file only)
SPAN_FIELDS = {
    "wall_s": "s",
    "busy_s": "s",
    "idle_core_s": "s",
    "jobs": "count",
    "shuffle_write_bytes": "B",
}
EXTRA_LAYER = {
    "cold_s": "s",
    "extraction.py_cpu_s": "s",
    "extraction.jvm_cpu_s": "s",
    "triples.emit.jvm_cpu_s": "s",
    "triples.dedup.kept_ratio": "ratio",
    "spill_bytes": "B",
    "failed_tasks": "count",
    "unattributed_share": "ratio",
    "trace_overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    """Progress to stderr, stamped with seconds since process start."""
    from perfbench.bench_env import process_age_s

    print(f"[perfbench {process_age_s():7.2f}s] {msg}", file=sys.stderr, flush=True)


def med(values):
    return statistics.median(values) if values else None


class Run:
    """Passes of one benchmark run and their accounting."""

    def __init__(self, spark, workload, tree, work: str, stats: dict):
        self.spark = spark
        self.wl = workload
        self.tree = tree
        self.work = work
        self.stats = stats
        self.expected = None  # oracle-verified (rows, digest)
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []
        self.first_timed = 1  # index of the first timed pass

    def _clear(self) -> None:
        from kartograph_spark import components

        # build_triples never unpersists its caches
        self.spark.catalog.clearCache()
        components.release_caches()
        gc.collect()
        self.spark.sparkContext._jvm.java.lang.System.gc()

    def one(
        self, steps: list, traced: bool = False, oracle_md5: str | None = None, side: bool = True
    ) -> dict:
        """Run one pass, its steps timed one by one, into a fresh output
        directory, and check its output.  With ``oracle_md5`` the output
        is compared row by row with the oracle and, if equal, its digest
        becomes the one every later pass must match.  ``side=False`` skips
        the workload's checks beyond the digest (for the in-memory
        warm-up, which writes nothing)."""
        from perfbench import checks
        from perfbench.spans import Spans, layer_patches

        out = os.path.join(self.work, "passes", str(len(self.passes)))
        self._clear()
        rec = {"traced": traced, "problems": [], "step_s": []}
        spans = None
        try:
            if traced:
                base = "pipeline.unattributed" if self.wl.traces_pipeline else "unattributed"
                spans = Spans(self.spark, self.tree, f"p{len(self.passes)}", base)
            c0 = self.tree.cpu()
            with layer_patches(spans, self.wl.traces_pipeline) if traced else nullcontext():
                for i, step in enumerate(steps):
                    t0 = time.perf_counter()
                    df = step(out)
                    if i == len(steps) - 1:
                        digest = checks.spark_digest(df)
                    rec["step_s"].append(time.perf_counter() - t0)
            c1 = self.tree.cpu()
            rec["wall_s"] = sum(rec["step_s"])
            rec["cpu_s"] = (c1[0] - c0[0]) + (c1[1] - c0[1])
            if spans is not None:
                rec["spans"], spans = spans.finish(), None
            rec["digest"] = digest
            if oracle_md5 is not None:
                got = checks.row_md5(df.select(*checks.COLS).toPandas())
                if got != oracle_md5 or digest[0] != self.stats["oracle_rows"]:
                    rec["problems"].append(f"output != oracle ({digest[0]} rows, md5 {got})")
                else:
                    self.expected = digest
            elif digest != self.expected:
                rec["problems"].append(f"digest {digest} != verified {self.expected}")
            if side:
                rec["problems"] += self.wl.check_side(out, self.stats["oracle_rows"], self.stats)
        except Exception as e:  # a failed pass is counted, and the run goes on
            traceback.print_exc()
            rec["problems"].append(f"{type(e).__name__}: {e}")
        finally:
            if spans is not None:
                spans.finish()
            shutil.rmtree(out, ignore_errors=True)
        self.attempted += 1
        self.failed += bool(rec["problems"])
        self.passes.append(rec)
        steps_s = " + ".join(f"{s:.3f}" for s in rec["step_s"])
        log(f"pass {len(self.passes) - 1}{' traced' if traced else ''}: {steps_s} s {rec['problems'] or 'ok'}")
        return rec

    def warm(self, traced: bool = False) -> list[dict]:
        """Timed passes (after the cold one and the warm-up) that passed
        their checks."""
        timed = self.passes[self.first_timed :]
        return [p for p in timed if p["traced"] == traced and not p["problems"]]



def end_to_end(run: Run, setup: float, peak: float) -> dict:
    wall = med([p["wall_s"] for p in run.warm()])
    turns, triples = run.stats["turns"], run.stats["oracle_rows"]
    return {
        "setup_s": setup,
        "wall_s": wall,
        "turns_per_s": turns / wall if wall else None,
        "triples_per_s": triples / wall if wall else None,
        "cpu_s": med([p["cpu_s"] for p in run.warm()]),
        "peak_rss_mb": peak,
        "resume_s": med([p["step_s"][-1] for p in run.warm()]),
    }


def per_layer(run: Run) -> tuple[dict, dict]:
    """Per-layer metrics (medians over the traced passes), and every
    span's fields (medians) for the result file."""
    from perfbench.spans import LAYER_SPANS

    base = "pipeline.unattributed" if run.wl.traces_pipeline else "unattributed"
    rows, detail = [], {}
    for p in run.warm(traced=True):
        spans = {k: v for k, v in p["spans"].items() if k != "_pass"}
        other = {}
        for name, r in spans.items():
            if name not in LAYER_SPANS:
                for f, v in r.items():
                    other[f] = other.get(f, 0) + v
        get = lambda span, f: spans.get(span, {}).get(f, 0)  # noqa: E731
        row = {f"{s}.{f}": get(s, f) for s in LAYER_SPANS for f in SPAN_FIELDS}
        row.update({f"other.{f}": other.get(f, 0) for f in SPAN_FIELDS})
        row.update(
            {
                "extraction.py_cpu_s": get("extraction", "py_cpu_s"),
                "extraction.jvm_cpu_s": get("extraction", "jvm_cpu_s"),
                "triples.emit.jvm_cpu_s": get("triples.emit", "jvm_cpu_s"),
                "triples.dedup.kept_ratio": get("triples.dedup", "rows_out")
                / max(get("triples.emit", "rows_out"), 1),
                "spill_bytes": sum(r.get("spill_bytes", 0) for r in spans.values()),
                "failed_tasks": sum(r.get("failed_tasks", 0) for r in spans.values()),
                "unattributed_share": get(base, "wall_s") / p["spans"]["_pass"]["wall_s"],
            }
        )
        rows.append(row)
        for name, r in spans.items():
            for f, v in r.items():
                detail.setdefault(name, {}).setdefault(f, []).append(v)
    metrics = {k: med([r[k] for r in rows]) for k in rows[0]} if rows else {}
    cold = run.passes[0]
    metrics["cold_s"] = None if cold["problems"] else cold["wall_s"]
    traced, untraced = run.warm(traced=True), run.warm()
    if traced and untraced:
        metrics["trace_overhead_s"] = med([p["wall_s"] for p in traced]) - med(
            [p["wall_s"] for p in untraced]
        )
    detail = {n: {f: med(v) for f, v in d.items()} for n, d in detail.items()}
    return metrics, detail


def layer_units() -> dict:
    from perfbench.spans import LAYER_SPANS

    units = {f"{s}.{f}": u for s in (*LAYER_SPANS, "other") for f, u in SPAN_FIELDS.items()}
    units.update(EXTRA_LAYER)
    return units


def environment(spark, seed: int, stats: dict) -> dict:
    import duckdb
    import pandas
    import pyarrow

    from perfbench import bench_env

    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "nproc": bench_env.cores(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "seed": seed,
        "git_commit": commit,
        "corpus": stats,
    }


def benchmark(args, work: str) -> tuple[dict, dict]:
    from perfbench import bench_env

    bench_env.configure(ROOT, work)
    spark = bench_env.start_spark(work)
    setup = bench_env.process_age_s()
    log("spark up")

    from perfbench import checks, corpus
    from perfbench.spans import ProcTree
    from perfbench.workloads import WORKLOADS

    tree = ProcTree(bench_env.jvm_pid(spark))
    try:
        wl_cls = WORKLOADS[args.workload]
        corpus_dir = os.path.join(work, "corpus")
        stats = corpus.write(corpus_dir, wl_cls.corpus, args.seed)
        stats["oracle_rows"], oracle_md5, stats["raw_triples"] = checks.oracle(
            os.path.join(corpus_dir, "transcripts.parquet"),
            bench_env.cores(),
            os.path.join(work, "tmp"),
        )
        log(f"corpus and oracle: {stats}")
        wl = wl_cls(spark, corpus_dir)
        run = Run(spark, wl, tree, work, stats)
        run.one([wl.full], oracle_md5=oracle_md5)
        if not args.trace:
            for _ in range(wl.warm_up):
                run.one([wl.build], side=False)
        run.first_timed = len(run.passes)
        # trace: traced and untraced full passes; else warm split passes
        loop = [([wl.full], True), ([wl.full], False)] if args.trace else [([wl.extract, wl.resume], False)]
        t0 = time.perf_counter()
        while True:
            for steps, traced in loop:
                run.one(steps, traced)
            if time.perf_counter() - t0 >= args.seconds:
                break
        peak = tree.peak_rss_mb()
        env = environment(spark, args.seed, stats)
    finally:
        bench_env.stop_spark(spark)

    if args.trace:
        metrics, detail = per_layer(run)
        units = layer_units()
    else:
        metrics, detail, units = end_to_end(run, setup, peak), {}, END_TO_END
    result = {
        "correct": run.failed == 0 and run.expected is not None,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics.get(k), "unit": u} for k, u in units.items()},
    }
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "seconds": args.seconds,
        "env": env,
        "result": result,
        "spans": detail,
        "passes": [{k: v for k, v in p.items() if k != "spans"} for p in run.passes],
    }
    return result, record


def report(result: dict, record: dict) -> None:
    """Human-readable lines, the result file, then the JSON line last."""
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{record['workload']}-seed{record['env']['seed']}-trace{record['trace']}-{time.time_ns()}.json"
    path = os.path.join(out_dir, name)
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    wl = record["workload"]
    print(f"# env {json.dumps(record['env'], default=str)}")
    for span, d in sorted(record["spans"].items()):
        print(f"# span {span:28s} " + " ".join(f"{k}={v:.4g}" for k, v in sorted(d.items())))
    for k, m in result["metrics"].items():
        v = "-" if m["value"] is None else f"{m['value']:.6g}"
        print(f"# {wl:12s} {k:36s} {v:>14s} {m['unit']}")
    frac = result["failed"] / max(result["attempted"], 1)
    print(f"# {wl:12s} {'failed_frac':36s} {frac:>14.6g} ratio")
    print(f"# result file {os.path.relpath(path, ROOT)}")
    print(json.dumps(result), flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    program = [os.path.join(ROOT, "kartograph_spark", "__init__.py"), os.path.join(ROOT, "__spark_entry__.py")]
    if not all(os.path.isfile(p) for p in program):
        print(f"perfbench: no kartograph_spark program under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    try:
        result, record = benchmark(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with suppress(OSError):  # left in place while another run uses it
            os.rmdir(os.path.dirname(work))
    report(result, record)
    return 0


if __name__ == "__main__":
    # import the benchmark package and the program from the checkout root,
    # not from this script's directory
    sys.path[0] = ROOT
    sys.exit(main())

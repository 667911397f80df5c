"""Linkage benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload link_grouped --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` makes a separate traced run and prints the per-layer
metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOAD_NAMES = ("link_prefix", "link_grouped", "serve_batches")

# Layers named after the modules they time; PIPELINE_LAYERS are the parts of
# one link, summed for the residual and the tracing overhead.
PIPELINE_LAYERS = ("extract", "normalize", "tfidf", "blocking", "scoring",
                   "select", "postprocess", "cluster")
LAYERS = ("pages", "session", *PIPELINE_LAYERS, "fit", "batch", "link")
LAYER_FIELDS = (("wall_s", "s"), ("core_s", "s"), ("idle_core_s", "s"),
                ("jobs", "count"), ("tasks", "count"), ("shuffle_mb", "MB"),
                ("spill_mb", "MB"), ("rows_out", "count"))


def host_settings() -> dict:
    nproc = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    # one core is left to the driver: its planning, JIT and GC threads
    # between jobs are most of a batch's wall time, and at local[4] on 4
    # cores link_grouped links were slower and spread wider
    return {"nproc": nproc, "k": max(1, min(3, nproc - 1)),
            "driver_memory": f"{max(1, min(3, int(ram_gb / 4)))}g",
            "ram_gb": round(ram_gb, 1)}


def load1() -> float:
    return os.getloadavg()[0]


def start_session(host: dict, work: Path):
    """A host-sized session through get_spark's arguments and environment;
    every file Spark or the Python workers write lands under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    tempfile.tempdir = str(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host["k"]),
        "SPARK_DRIVER_MEMORY": host["driver_memory"],
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    })
    from name_matching_spark.session import get_spark
    # shuffle partitions: the session default, max(cpus, 32), is sized for
    # 32 cores; on 4 it doubled the per-link time of link_grouped
    return get_spark("perfbench", master=f"local[{host['k']}]",
                     shuffle_partitions=2 * host["k"], extra_conf={
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} "
                                           "-XX:-UsePerfData"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest percentile with at
    least 10 samples beyond it.  Below 20 samples it is the 75th,
    interpolated between the two samples around it: on the two or three
    batches a short run times, the nearest rank is the slowest one, and
    that read 20-27% apart between runs of the same code."""
    v = sorted(values)
    n = len(v)
    if n >= 20:
        idx = n - 11
        return v[idx], 100.0 * (n - 10) / n, n - idx - 1
    if n == 1:
        return v[0], 75.0, 0
    p75 = statistics.quantiles(v, n=4, method="inclusive")[2]
    return p75, 75.0, sum(x > p75 for x in v)


class Run:
    def __init__(self, args, host: dict, work: Path):
        self.args = args
        self.host = host
        self.work = work
        self.spark = None
        self.ops: list[dict] = []          # timed operations
        self.warm: list[tuple] = []        # (record, output) of warm batches
        self.failures: list[str] = []
        self.detail: dict = {"workload": args.workload, "seed": args.seed,
                             "host": host}

    # -- phases ---------------------------------------------------------
    def setup(self, tracer_cls):
        import workloads

        t0 = time.perf_counter()
        self.detail["load1_setup_start"] = load1()
        self.spark = start_session(self.host, self.work)
        self.tracer = tracer_cls(self.spark, self.host["k"]) if tracer_cls \
            else None
        self.wl = workloads.WORKLOADS[self.args.workload](
            self.spark, self.args.seed, self.work)
        with workloads.span(self.tracer, "session", t0=t0) as s:
            s["rows_out"] = self.wl.warm_up()
        session_s = time.perf_counter() - t0
        p0 = time.perf_counter()
        self.wl.make_pages(self.tracer)
        pages_s = time.perf_counter() - p0
        fit_s = warm_batch_s = 0.0
        if self.args.workload == "serve_batches":
            f0 = time.perf_counter()
            self.wl.fit(self.tracer)
            fit_s = time.perf_counter() - f0
            # the first batches run the fitted path's plans for the first
            # time; that is lazy set-up, so they are timed here
            f0 = time.perf_counter()
            for i in range(self.wl.first_op):
                self.warm.append(({"op": i, "ok": True}, self.wl.op(i)))
            warm_batch_s = time.perf_counter() - f0
        self.detail["setup"] = {"session_and_warmup_s": session_s,
                                "fit_s": fit_s, "warm_batch_s": warm_batch_s,
                                "pages_s": pages_s, "load1_after": load1()}
        return session_s + fit_s + warm_batch_s

    def timed(self, i: int, fn):
        rec = {"op": i, "load1_before": load1()}
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            out = None
            self.failures.append(f"op {i} raised")
        rec["wall_s"] = time.perf_counter() - t0
        rec["load1_after"] = load1()
        rec["ok"] = out is not None
        self.ops.append(rec)
        return rec, out

    def loop(self, step):
        """Closed loop: the next step starts when the previous returned, and
        none starts after --seconds (at least one always runs)."""
        t_end = time.perf_counter() + self.args.seconds
        j = 0
        while j == 0 or time.perf_counter() < t_end:
            step(j)
            j += 1

    # -- checks ---------------------------------------------------------
    def check_ops(self, results) -> float:
        """Oracle sample and pairwise F1 over the operations' outputs; a
        mismatch fails the operation."""
        import check

        oracle = self.wl.oracle()
        tp = pred = truth = checked = 0
        for rec, out in results:
            if out is None:
                continue
            i = rec["op"]
            queries = self.wl.sample_queries(self.wl.op_pairs(i), i)
            checked += len(queries)
            bad = check.check_queries(oracle, queries, out["rows"])
            if "components" in out:
                bad += check.check_clusters(out["rows"], out["components"])
            if bad:
                rec["ok"] = False
                self.failures += [f"op {i}: {b}" for b in bad]
            c = check.pair_counts(out["rows"], out["queries"])
            tp, pred, truth = tp + c[0], pred + c[1], truth + c[2]
        self.detail["oracle_queries_checked"] = checked
        self.detail["pairs"] = {"true_positive": tp, "predicted": pred,
                                "true": truth}
        return check.f1(tp, pred, truth)

    def fill_sink_rows(self, results):
        if self.args.workload == "serve_batches":
            committed = self.wl.sink_rows()
            for rec, out in results:
                if out is not None and "rows" not in out:
                    out["rows"] = committed.get(rec["op"], [])

    # -- modes ----------------------------------------------------------
    def untraced(self) -> dict:
        setup_s = self.setup(None)
        results = []

        def step(j):
            i = self.wl.first_op + j
            results.append(self.timed(i, lambda: self.wl.op(i)))

        self.loop(step)
        # the warm batches' links are checked and counted in match_f1 too:
        # over the timed batches alone, F1 spread 1.1% between seeds
        checked = self.warm + results
        self.fill_sink_rows(checked)
        f1 = self.check_ops(checked)
        walls = [r["wall_s"] for r in self.ops]
        tail_s, pct, beyond = tail(walls)
        queries = sum(len(self.wl.op_pairs(r["op"])) for r in self.ops)
        self.detail["batch_tail"] = {"percentile": pct,
                                     "samples_beyond": beyond,
                                     "samples": len(walls)}
        p50 = statistics.median(walls)
        return {
            "setup_s": (setup_s, "s"),
            "link_s": (p50, "s"),
            "batch_p50_s": (p50, "s"),
            "batch_tail_s": (tail_s, "s"),
            "names_per_s": (queries / sum(walls), "1/s"),
            "match_f1": (f1, "ratio"),
            "ok_frac": (sum(r["ok"] for r in self.ops) / len(self.ops),
                        "ratio"),
        }

    def traced(self) -> dict:
        import check
        import workloads
        from spans import Tracer, jvm_peak_rss_mb

        self.setup(Tracer)
        tr, wl = self.tracer, self.wl
        serve = self.args.workload == "serve_batches"
        per_pass = 3 if serve else 2
        results, passes = [], []
        oracle = wl.oracle()

        def step(j):
            i = wl.first_op + per_pass * j
            n0 = len(tr.spans)
            pinned: list = []
            try:
                lay = wl.layered(tr, wl.query_pages(i), pinned)
                layer_spans = [s for s in tr.spans[n0:]
                               if s["name"] in PIPELINE_LAYERS]
                with tr.span("probe"):
                    rem = {r[0] for r in lay["remainder"].select("id")
                           .collect()}
                    hit = {q for q, m in lay["cand"].select("qid", "mid")
                           .collect() if check.entity_of(q)
                           == check.entity_of(m)}
                    sel = lay["selected"].select("qid", "mid").collect()
                mirror_bad = check.check_queries(
                    oracle, wl.sample_queries(wl.op_pairs(i), i),
                    lay["rows"])
            finally:
                for d in pinned:
                    d.unpersist()
            passes.append({
                "layers_wall_s": sum(s["wall_s"] for s in layer_spans),
                "layers_core_s": sum(s["core_s"] for s in layer_spans),
                "recall": len(hit & rem) / max(1, len(rem)),
                "precision": (sum(check.entity_of(q) == check.entity_of(m)
                                  for q, m in sel) / max(1, len(sel))),
                "mirror_mismatches": mirror_bad,
            })
            if serve:
                with tr.span("batch", op=i + 1):
                    results.append(self.timed(i + 1, lambda: wl.op(i + 1)))
            with tr.span("link") as s:
                probe = workloads.link_plan_probe(s)
                if serve:
                    rec, out = self.timed(i + 2, lambda: {
                        "rows": wl.link_once(wl.query_pages(i + 2), probe),
                        "queries": len(wl.op_pairs(i + 2))})
                else:
                    rec, out = self.timed(i + 1, lambda: wl.op(i + 1, probe))
                s["rows_out"] = len(out["rows"]) if out else 0
                results.append((rec, out))

        self.loop(step)
        self.fill_sink_rows(results)
        self.check_ops(results)
        by_op = {rec["op"]: out for rec, out in results if out is not None}
        for s in tr.spans:
            if s["name"] == "batch" and s["op"] in by_op:
                s["rows_out"] = len(by_op[s["op"]]["rows"])
        metrics = self.layer_metrics(passes)
        metrics["session.jvm_peak_rss_mb"] = (jvm_peak_rss_mb(self.spark),
                                              "MB")
        self.detail["mirror_mismatches"] = [
            b for p in passes for b in p["mirror_mismatches"]]
        out_dir = ROOT / ".bench_work" / "traces"
        out_dir.mkdir(parents=True, exist_ok=True)
        tr.dump(out_dir / f"{self.args.workload}-seed{self.args.seed}.json")
        return metrics

    def layer_metrics(self, passes: list[dict]) -> dict:
        """Per-layer medians over the traced spans; 0 for a layer the
        workload does not run."""
        by: dict[str, list[dict]] = {}
        for s in self.tracer.spans:
            by.setdefault(s["name"], []).append(s)

        def med(layer, field, default=0.0):
            vals = [s[field] for s in by.get(layer, []) if field in s]
            if not vals:
                return default
            if all(isinstance(v, int) for v in vals):
                return statistics.median_low(vals)
            return statistics.median(vals)

        m = {f"{layer}.{f}": (med(layer, f), unit)
             for layer in LAYERS for f, unit in LAYER_FIELDS}
        ratio = statistics.median
        m["extract.empty_frac"] = (ratio(
            [s["empty"] / max(1, s["rows_out"]) for s in by["extract"]]),
            "ratio")
        queries = med("normalize", "queries", 1)
        m["exact.hit_frac"] = (med("exact", "hits") / max(1, queries),
                               "ratio")
        m["blocking.cands_per_query"] = (ratio(
            [b["rows_out"] / max(1, e["rows_out"])
             for b, e in zip(by["blocking"], by["exact"])]), "1/query")
        m["blocking.recall"] = (ratio([p["recall"] for p in passes]),
                                "ratio")
        m["blocking.plan_exchanges"] = (med("blocking", "plan_exchanges"),
                                        "count")
        m["link.plan_exchanges"] = (med("link", "plan_exchanges"), "count")
        m["link.plan_python_nodes"] = (med("link", "plan_python_nodes"),
                                       "count")
        m["scoring.pairs_per_s"] = (ratio(
            [s["rows_out"] / s["wall_s"] for s in by["scoring"]]), "1/s")
        m["select.precision"] = (ratio([p["precision"] for p in passes]),
                                 "ratio")
        m["cluster.components"] = (med("cluster", "components"), "count")
        m["fit.storage_mb"] = (med("fit", "storage_mb"), "MB")
        m["trace.overhead_s"] = (
            ratio([p["layers_wall_s"] for p in passes])
            - m["link.wall_s"][0], "s")
        m["pipeline.residual_core_s"] = (
            m["link.core_s"][0]
            - ratio([p["layers_core_s"] for p in passes]), "s")
        return m

    def finish(self):
        """Stop the session and the JVM it launched, and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "name_matching_spark" / "pipeline.py").is_file():
        print(f"perfbench: no name_matching_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    host = host_settings()
    run = Run(args, host, work)
    try:
        metrics = run.traced() if args.trace else run.untraced()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if run.spark is not None:
            run.finish()
        shutil.rmtree(work, ignore_errors=True)
    run.detail["ops"] = run.ops
    run.detail["failures"] = run.failures
    run.detail["load1_end"] = load1()
    print(json.dumps({"detail": run.detail}))
    failed = sum(not r["ok"] for r in run.ops)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())

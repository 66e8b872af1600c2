"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload tabular_prep --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates (or reuses) its seeded
inputs under ``.perfbench_data/``, sets the session up three times
(``session.get_spark`` plus one Arrow crossing of the Python worker pool),
then runs one cold pass and warm passes in the same session until
``--seconds`` of pass time is measured. Every step's output is checked
after its pass, outside the timed windows.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the
Spark event log (submit-time conf only), per-step job groups, spans and
py4j probes on alternate warm passes, and prints the per-layer metrics.
The last stdout line is the result JSON; the lines before it stamp the
host and report each pass. Exit code 2 (and no result) when the engine
cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = ROOT / ".perfbench_data"
sys.path[:0] = [str(HERE), str(ROOT)]

SETUPS = 3
MIN_WARM = 1
MIN_WARM_TRACED = 3  # warm passes alternate untraced, traced, untraced
MAX_PASSES = 60
WORKLOAD_NAMES = ("tabular_prep", "corpus_dedup")

def process_age_s() -> float:
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def configure_env(run_dir: Path, trace: bool) -> None:
    """Everything the session needs from the environment, set before the
    JVM launches: core count, worker import path, scratch dirs inside the
    checkout, and (trace only) the event log as submit-time conf."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the engine's default 8g driver heap lets an idle JVM grow to ~10 GB
    # RSS; the benchmark's inputs need a fraction of that
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TZ"] = "UTC"
    time.tzset()
    local, tmp = run_dir / "spark-local", run_dir / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData {os.environ.get('SPARK_LAUNCHER_OPTS', '')}"
    conf = {
        "spark.local.dir": str(local),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (run_dir / "eventlog").mkdir(exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{run_dir / 'eventlog'}",
                "spark.eventLog.compress": "false",
            }
        )
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def _ident(it):
    yield from it


def build_session(get_spark, name: str):
    t0 = time.monotonic()
    spark = get_spark(name)
    t1 = time.monotonic()
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInArrow(_ident, "id long").count()
    return spark, t1 - t0, time.monotonic() - t1


def shutdown(spark) -> None:
    """Stop the session, the gateway JVM and every process left under us,
    and wait for each to end."""
    from pyspark import SparkContext

    from probes import descendants

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 5.0)):
        left = descendants()
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        t_end = time.monotonic() + wait
        while left and time.monotonic() < t_end:
            for p in left:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            left = descendants()
            time.sleep(0.05)
        if not left:
            return


class MlProbe:
    """Traced runs only: counts ``pyspark.ml.Pipeline`` fits and times each
    ``ml.pipeline.train_and_evaluate`` call ``ml.tuning`` makes (CV folds run
    it from helper threads, so the step span alone cannot)."""

    def __init__(self) -> None:
        from pyspark.ml import pipeline

        from ml_data_pipeline_spark.ml import tuning

        self.fits, self.fit_s = 0, []
        fit, train = pipeline.Pipeline._fit, tuning.train_and_evaluate

        def counted(est, dataset):
            self.fits += 1
            return fit(est, dataset)

        def timed(*a, **k):
            t0 = time.perf_counter()
            try:
                return train(*a, **k)
            finally:
                self.fit_s.append(time.perf_counter() - t0)

        pipeline.Pipeline._fit = counted
        tuning.train_and_evaluate = timed


def run_pass(wl, ctx, p: int, tracer, probe, ml) -> dict:
    st: dict = {}
    outputs, steps, errors = {}, {}, {}
    span = tracer.span if tracer else (lambda *a, **k: nullcontext())
    t_pass = time.perf_counter()
    with span(f"pass{p}", kind="pass", pass_no=p):
        for step in wl.steps:
            rec: dict = {"construct_s": 0.0, "action_s": 0.0}
            steps[step.name] = rec

            def phase(kind, fn):
                with span(f"{step.name}.{kind}", kind=kind, pass_no=p) as s:
                    if probe:
                        probe.set_group(f"pb|{p}|{step.name}|{kind}", step.name)
                        cg0, f0, t0_calls = probe.codegen(), ml.fits, len(ml.fit_s)
                    t0 = time.perf_counter()
                    try:
                        return fn()
                    finally:
                        rec[f"{kind}_s"] = time.perf_counter() - t0
                        if probe:
                            cg1 = probe.codegen()
                            probe.clear_group()
                            rec["codegen_ms"] = rec.get("codegen_ms", 0.0) + cg1[0] - cg0[0]
                            rec["codegen_units"] = rec.get("codegen_units", 0) + cg1[1] - cg0[1]
                            rec["fits"] = rec.get("fits", 0) + ml.fits - f0
                            rec.setdefault("train_and_evaluate_s", []).extend(ml.fit_s[t0_calls:])
                            rec[f"{kind}_window"] = (s["start"], time.time())

            try:
                with span(step.name, kind="step", pass_no=p):
                    obj = phase("construct", lambda: step.construct(ctx, st))
                    out = obj if step.action is None else phase("action", lambda: step.action(obj, st))
                outputs[step.name] = out
                if probe:
                    objs = obj if isinstance(obj, tuple) else (obj,)
                    for o in objs:
                        for k, v in probe.phases_ms(o).items():
                            rec[f"{k}_ms"] = rec.get(f"{k}_ms", 0.0) + v
            except Exception as e:  # noqa: BLE001 - a failing step is reported, not fatal
                errors[step.name] = f"{type(e).__name__}: {str(e)[:400]}"
    return {
        "pass": p,
        "wall_s": time.perf_counter() - t_pass,
        "traced": probe is not None,
        "steps": steps,
        "errors": errors,
        "outputs": outputs,
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(d: Path) -> int:
    return sum(f.stat().st_size for f in d.rglob("*") if f.is_file())


def layer_metrics(wl, passes, setups, totals, extra) -> dict[str, float]:
    """Per-layer numbers of one traced run (see README for the mapping to
    the end-to-end metric each should move)."""
    cold = passes[0]
    traced = [r for r in passes[1:] if r["traced"]]
    untraced = [r for r in passes[1:] if not r["traced"]]
    m: dict[str, float] = {
        "session.get_spark_s": median([s[1] for s in setups]),
        "session.worker_warm_s": median([s[2] for s in setups]),
    }

    def key(r, name, kind):
        return totals.get(f"pb|{r['pass']}|{name}|{kind}", {})

    def med(fn):
        return median([fn(r) for r in traced])

    for step in wl.steps:
        n = step.name
        c_s = med(lambda r: r["steps"][n]["construct_s"])
        a_s = med(lambda r: r["steps"][n]["action_s"])
        c_j = med(lambda r: key(r, n, "construct").get("jobs", 0))
        a_j = med(lambda r: key(r, n, "action").get("jobs", 0))
        if n == "sources.csv_io.read_csv":
            m["sources.csv_io.read_csv_s"] = c_s + a_s
        elif n == "plans.dataset.save":
            m["plans.dataset.save_s"] = c_s
            m["plans.dataset.save_bytes"] = extra.get("save_bytes", 0)
        elif n == "ml.tuning.cross_val_scores":
            m["ml.tuning.cross_val_scores_s"] = c_s
            m["ml.pipeline.train_and_evaluate_s"] = med(
                lambda r: median(r["steps"][n].get("train_and_evaluate_s", []))
            )
            m["ml.tuning.fits"] = med(lambda r: r["steps"][n].get("fits", 0))
        else:
            m.update(
                {
                    f"{n}.construct_s": c_s,
                    f"{n}.construct_jobs": c_j,
                    f"{n}.action_s": a_s,
                    f"{n}.jobs": a_j,
                }
            )
    if "xxh64_mb_per_s" in extra:
        m["functions.xxh64_np.xxh64_mb_per_s"] = extra["xxh64_mb_per_s"]

    def cold_sum(k):
        return sum(s.get(k, 0) for s in cold["steps"].values())

    m.update(
        {
            "spark.analysis_ms": cold_sum("analysis_ms"),
            "spark.optimization_ms": cold_sum("optimization_ms"),
            "spark.planning_ms": cold_sum("planning_ms"),
            "spark.codegen_compile_ms": cold_sum("codegen_ms"),
            "spark.codegen_units": cold_sum("codegen_units"),
        }
    )

    def pass_total(r, field):
        pre = f"pb|{r['pass']}|"
        return sum(v[field] for k, v in totals.items() if k.startswith(pre))

    for field in ("jobs", "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb"):
        m[f"spark.{field}"] = med(lambda r: pass_total(r, field))

    def collect_tail(r):
        tail = 0.0
        for n, s in r["steps"].items():
            if "action_window" in s:
                last = key(r, n, "action").get("last_job_end", 0.0)
                if last:
                    tail += max(0.0, s["action_window"][1] - last)
        return tail

    m["spark.collect_s"] = med(collect_tail)
    m["cache.tracked_pins"] = passes[-1]["tracked_pins"]
    m["cache.tracked_pins_growth"] = passes[-1]["tracked_pins"] - passes[0]["tracked_pins"]
    m["jvm.heap_used_mb"] = passes[-1]["heap_used_mb"]
    m["trace.overhead_s"] = median([r["wall_s"] for r in traced]) - median(
        [r["wall_s"] for r in untraced]
    )
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = DATA / "runs" / run_id
    load_start = os.getloadavg()[0]
    try:
        import ml_data_pipeline_spark  # noqa: F401 - the engine under test
        from bench import _calibration_probe
        from ml_data_pipeline_spark import cache
        from ml_data_pipeline_spark.session import get_spark

        import probes
        import workloads as W
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    configure_env(run_dir, trace)

    # excluded from setup_s: the host calibration and input generation
    excluded = 0.0
    t0 = time.monotonic()
    calibration = _calibration_probe()
    wl = W.WORKLOADS[args.workload]()
    inputs = wl.prepare(DATA / "inputs", args.seed)
    input_rows = wl.input_rows(inputs)
    excluded += time.monotonic() - t0

    tracer = probes.Tracer() if trace else None
    ml = MlProbe() if trace else None
    spark = None
    with probes.TreeRss() as rss:
        try:
            spark, g, w = build_session(get_spark, f"perfbench-{args.workload}")
            setups = [(process_age_s() - excluded, g, w)]
            for _ in range(SETUPS - 1):
                spark.stop()
                t0 = time.monotonic()
                spark, g, w = build_session(get_spark, f"perfbench-{args.workload}")
                setups.append((time.monotonic() - t0, g, w))
            sc = spark.sparkContext
            stamp = {
                "workload": args.workload,
                "seed": args.seed,
                "nproc": len(os.sched_getaffinity(0)),
                "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
                "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
                "master": sc.master,
                "default_parallelism": sc.defaultParallelism,
                "calibration_sec": calibration,
                "loadavg_1m_start": round(load_start, 2),
                "input_rows": input_rows,
                "first_setup_s": round(setups[0][0], 3),
            }
            print(json.dumps({"stamp": stamp}), flush=True)

            ctx = W.Ctx(spark, args.seed, run_dir, inputs)
            probe = probes.SparkProbe(spark)
            min_warm = MIN_WARM_TRACED if trace else MIN_WARM
            passes, problems, measured = [], [], 0.0
            while True:
                p = len(passes)
                traced = trace and p % 2 == 0
                r = run_pass(wl, ctx, p, tracer if traced else None, probe if traced else None, ml)
                measured += r["wall_s"]
                r["tracked_pins"] = cache.tracked_count()
                r["heap_used_mb"] = probe.heap_used_mb()
                t0 = time.monotonic()
                with rss.paused():
                    try:
                        found = wl.check(ctx, r["outputs"], passes[0]["outputs"] if passes else None)
                    except Exception as e:  # noqa: BLE001 - a check that cannot run fails the pass
                        found = {s.name: [f"check raised {type(e).__name__}: {e}"] for s in wl.steps}
                r["check_s"] = time.monotonic() - t0
                for name in (s.name for s in wl.steps):
                    errs = ([r["errors"][name]] if name in r["errors"] else []) + found.get(name, [])
                    if errs:
                        problems.append({"pass": p, "step": name, "problems": errs})
                r["failed"] = sum(1 for q in problems if q["pass"] == p)
                if p:
                    del r["outputs"]
                passes.append(r)
                print(
                    f"pass {p} {'cold' if p == 0 else 'warm'}{' traced' if traced else ''}: "
                    f"wall_s={r['wall_s']:.3f} failed_steps={r['failed']} "
                    f"tracked_pins={r['tracked_pins']} heap_used_mb={r['heap_used_mb']:.1f}",
                    flush=True,
                )
                if p >= min_warm and measured >= args.seconds or p + 1 >= MAX_PASSES:
                    break
            del passes[0]["outputs"]
            extra = {}
            saved = run_dir / "saved"
            if saved.exists():
                extra["save_bytes"] = dir_bytes(saved) / len(passes)
            if trace and args.workload == "corpus_dedup":
                with tracer.span("functions.xxh64_np", kind="probe"):
                    extra["xxh64_mb_per_s"] = W.xxh64_mb_per_s(f"{inputs['dir']}/documents.parquet")
        finally:
            if spark is not None:
                shutdown(spark)
    for p in problems:
        print(f"check failed: pass {p['pass']} {p['step']}: {'; '.join(p['problems'])}", file=sys.stderr)

    attempted = len(passes) * len(wl.steps)
    failed = len(problems)
    if trace:
        windows = [
            (*s[f"{kind}_window"], f"pb|{r['pass']}|{n}|{kind}")
            for r in passes
            for n, s in r["steps"].items()
            for kind in ("construct", "action")
            if f"{kind}_window" in s
        ]
        totals = probes.read_event_log(run_dir / "eventlog", windows)
        shutil.rmtree(run_dir / "eventlog", ignore_errors=True)
        values = layer_metrics(wl, passes, setups, totals, extra)
        spans = tracer.with_self_time()
        cover = []
        for s in spans:
            if s["kind"] == "pass":
                kids = sum(c["dur_s"] for c in spans if c["parent"] == s["id"])
                cover.append(kids / s["dur_s"])
        (run_dir / "spans.json").write_text(
            json.dumps({"stamp": stamp, "step_span_coverage_min": min(cover), "spans": spans})
        )
        print(
            f"trace: spans={run_dir / 'spans.json'} step_span_coverage_min={min(cover):.4f} "
            f"trace_overhead_s={values['trace.overhead_s']:.3f}",
            flush=True,
        )
    else:
        warm = passes[1:]
        warm_s = median([r["wall_s"] for r in warm])
        step_meds = [
            median([r["steps"][s.name]["construct_s"] + r["steps"][s.name]["action_s"] for r in warm])
            for s in wl.steps
        ]
        values = {
            "setup_s": median([s[0] for s in setups]),
            "cold_pass_s": passes[0]["wall_s"],
            "warm_pass_s": warm_s,
            "warm_step_geomean_s": math.exp(statistics.fmean(math.log(max(x, 1e-9)) for x in step_meds)),
            "rows_per_s": input_rows / warm_s,
            "peak_rss_mb": rss.peak_mb,
        }
    # BENCHMARK.json is the one list of metric names and units; a per-layer
    # metric this workload does not have reads 0
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer" if trace else "end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec}
    stamp["loadavg_1m_end"] = round(os.getloadavg()[0], 2)
    (run_dir / "run.json").write_text(
        json.dumps(
            {
                "stamp": stamp,
                "setups": setups,
                "passes": passes,
                "problems": problems,
                "metrics": metrics,
            },
            default=str,
        )
    )
    for d in ("spark-local", "tmp", "saved"):
        shutil.rmtree(run_dir / d, ignore_errors=True)
    summary = " ".join(f"{n}={v['value']:.4g} {v['unit']}" for n, v in metrics.items() if not trace)
    print(
        f"perfbench {args.workload} seed={args.seed}: {summary} "
        f"fail_ratio={failed / attempted:.4f} ({failed}/{attempted}) "
        f"verdict={'PASS' if failed == 0 else 'FAIL'} loadavg_end={stamp['loadavg_1m_end']}",
        flush=True,
    )
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Repository benchmark: one seeded workload through the public entry points.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json says why each exists):

- ``crawl_mix``: ``pipeline.run_extraction_job`` over the seeded
  19-family skewed fixture mix interleaved with Common-Crawl-style HTML
  pages, resuming over an output that already holds half of the urls
  (restored before every repetition);
- ``textops_dedup``: six ``__spark_entry__.queries()`` text operators over
  a seeded ``documents`` table, each result checked against its DuckDB
  ``oracle_sql()``.

Load is a closed loop with one client: one job at a time. A run starts
one Spark process pinned to four CPUs (``leg.py``). It sets up once
(``local[4]`` session, corpus generation, one untimed job; ``setup_s``
runs from the start of this command to the first timed repetition) and
then repeats the job on fresh output paths for ``--seconds`` (at least
three times). Every output is compared with its golden or oracle outside
the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` adds one
event-logged repetition and the serial span pass in the same process,
then, for ``scaling_eff``, a second Spark process that sets up a
``local[1]`` session on the same corpus, pins itself to one CPU and
repeats the job for half of ``--seconds`` (at least once); it prints the
per-layer metrics. Earlier stdout lines hold a report with the host
record and every repetition; stderr gets progress lines and a table of
every figure, ``failed_frac`` and the RSS peaks included. The last stdout
line is the result object. Scratch files go to ``.perfbench_work/`` in
the checkout; the span file and event log of a traced run are kept under
``.perfbench_work/trace/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("crawl_mix", "textops_dedup")
CORES = 4            # the scaled-up leg; scaling_eff compares it with 1
MIN_REPS = 3
SCALE_MIN_REPS = 1
LEG_TIMEOUT_S = 155  # leaves time to stop the leg within 180 s

#: End-to-end metrics of the result line (BENCHMARK.json ``end_to_end``).
#: failed_frac reads 0 and worker_rss_peak_mb reads 0 on textops_dedup (no
#: Python workers), and spark_rss_peak_mb follows the JVM's heap sizing
#: (about 20% spread between runs), so those are printed, not bounded.
END_TO_END = ("setup_s", "docs_per_s")


def _per_layer() -> dict:
    from spans import CONVERTERS, PDF_PARTS

    from leg import TEXTOPS_QUERIES

    families = ("hocr", "abbyy", "alto", "text", "docx", "stext", "pdf",
                "hocr_char", "hocr_cjk", "textract", "google_vision",
                "hocr_furniture", "hocr_skew", "hocr_footnote",
                "google_doc_ai", "azure_doc_intel", "hocr_twocol",
                "pdf_twocol", "pdf_cffsub", "webhtml")
    m = {
        "scaling_eff": "ratio", "worker_rss_peak_mb": "MB",
        "spark_rss_peak_mb": "MB",
        "pipeline.tasks": "count", "pipeline.task_failures": "count",
        "pipeline.task_run_p50_s": "s", "pipeline.task_run_max_s": "s",
        "pipeline.task_skew": "ratio", "pipeline.core_idle_frac": "ratio",
        "pipeline.gc_s": "s", "pipeline.shuffle_mb": "MB",
        "pipeline.py_start_s": "s", "pipeline.py_run_s": "s",
        "pipeline.py_in_mb": "MB", "pipeline.py_out_mb": "MB",
        "pipeline.plan_s": "s", "pipeline.write_s": "s",
        "pipeline.sidecar_s": "s", "pipeline.out_mb": "MB",
        "pipeline.resume_skipped": "count",
        "pipeline.trace_overhead_frac": "ratio",
        "extract.docs": "count", "extract.errors": "count",
        "extract.busy_s": "s", "extract.self_s": "s",
        "extract.ms_per_doc.p50": "ms", "extract.ms_per_doc.p99": "ms",
        "extract.ms_per_doc.max": "ms", "extract.top1pct_share": "ratio",
    }
    m.update({f"extract.busy_s.{f}": "s" for f in families})
    m["detect.busy_s"] = "s"
    m.update({f"convert.{f}_s": "s" for f in CONVERTERS})
    m["convert.pages"] = "count"
    m.update({"pdf.busy_s": "s", "pdf.self_s": "s", "pdf.pages": "count",
              "pdf.chars": "count", "pdf.decoded_mb": "MB"})
    m.update({f"pdf.{p}_s": "s" for p in PDF_PARTS})
    m.update({"paragraphs.busy_s": "s", "paragraphs.pages": "count",
              "export_text.self_s": "s"})
    for q in TEXTOPS_QUERIES:
        m.update({f"textops.{q}.build_s": "s", f"textops.{q}.exec_s": "s",
                  f"textops.{q}.rows": "count"})
    m["textops.persisted_left"] = "count"
    return m


# -------------------------------------------------------------- legs


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                fields = f.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != b"Z":
            return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop every process the leg started (JVM, Python workers) and wait
    until they have ended."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + grace
        while _group_alive(proc.pid) and time.time() < deadline:
            time.sleep(0.1)
        if not _group_alive(proc.pid):
            break
    proc.wait()


def run_leg(spec: dict, cpus: set, deadline: float) -> dict:
    """Run ``leg.py`` pinned to ``cpus``; returns its result."""
    os.makedirs(spec["work"], exist_ok=True)
    spec_path = os.path.join(spec["work"], "spec.json")
    out_path = os.path.join(spec["work"], "result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(spec["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, PYTHONPATH=ROOT, TMPDIR=tmp,
               PYSPARK_PYTHON=sys.executable)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "leg.py"), spec_path, out_path],
        cwd=ROOT, env=env, stdout=sys.stderr.fileno(),
        start_new_session=True,
        preexec_fn=lambda: os.sched_setaffinity(0, cpus))
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:
        _stop_group(proc)
    if code != 0:
        raise RuntimeError(f"Spark leg failed: {code}")
    with open(out_path) as f:
        return json.load(f)


# ----------------------------------------------------------- metrics


def docs_per_s(reps: list) -> float:
    return statistics.median(r["docs_ok"] / r["wall_s"] for r in reps)


def summary(res: dict, failed: int, attempted: int) -> dict:
    """Every end-to-end figure of an untraced run (a superset of
    ``END_TO_END``), with its unit."""
    reps = res["reps"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "docs_per_s": (docs_per_s(reps), "1/s"),
        "failed_frac": (failed / attempted, "ratio"),
        "worker_rss_peak_mb": (statistics.median(
            r["worker_rss_mb"] for r in reps), "MB"),
        "spark_rss_peak_mb": (statistics.median(
            r["spark_rss_mb"] for r in reps), "MB"),
    }


def per_layer(res: dict) -> dict:
    names = _per_layer()
    tr = res["traced"]
    reps = res["reps"]
    # The traced repetition runs after the untraced ones, in a JVM that
    # has warmed up since; the last untraced repetition is the closest in
    # warmth to compare it with.
    untraced = reps[-1]["wall_s"]
    m = dict.fromkeys(names, 0.0)
    m["scaling_eff"] = docs_per_s(reps) / (CORES
                                           * docs_per_s(res["scale_reps"]))
    for key in ("worker_rss", "spark_rss"):
        m[f"{key}_peak_mb"] = statistics.median(r[f"{key}_mb"] for r in reps)
    m.update(tr["pipeline"])
    m["pipeline.trace_overhead_frac"] = tr["wall_s"] / untraced - 1
    if "layers" in tr:
        m.update(tr["layers"])
        m.update({"pipeline.plan_s": tr["plan_s"],
                  "pipeline.write_s": tr["write_s"],
                  "pipeline.sidecar_s": tr["sidecar_s"],
                  "pipeline.out_mb": tr["out_mb"],
                  "pipeline.resume_skipped": tr["resume_skipped"]})
    else:
        for q in reps[0]["queries"]:
            for k in ("build_s", "exec_s", "rows"):
                m[f"textops.{q}.{k}"] = statistics.median(
                    r["queries"][q][k] for r in reps)
        m["textops.persisted_left"] = max(r["persisted_left"] for r in reps)
    unknown = set(m) - set(names)
    if unknown:
        raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return {k: (v, names[k]) for k, v in m.items()}


def keep_trace(traced: dict, dest: str) -> dict:
    """Move the span file and event log out of the run's scratch dir,
    replacing those of an earlier traced run of the same seed."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    return {key: shutil.move(traced[key], dest)
            for key in ("spans", "eventlog") if traced.get(key)}


def main(argv=None) -> int:
    bench_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("scribe_js_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}",
                  file=sys.stderr)
            return 2
    from host import host_record, loadavg

    host = host_record()
    load_before = loadavg()
    allowed = sorted(os.sched_getaffinity(0))
    if len(allowed) < CORES:
        print(f"perfbench: needs {CORES} CPUs, has {len(allowed)}",
              file=sys.stderr)
        return 2
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    spec = {
        "workload": args.workload, "seed": args.seed, "work": work,
        "cores": CORES, "t0": bench_start, "trace": bool(args.trace),
        "sample_rss": True, "budget_s": args.seconds, "min_reps": MIN_REPS,
        # Sized to the box: a quarter of RAM, 1-4 GB.
        "driver_memory":
            f"{max(1, min(4, host['mem_total_mb'] // 4096))}g",
    }
    deadline = bench_start + LEG_TIMEOUT_S
    try:
        res = run_leg(spec, set(allowed[:CORES]), deadline)
        if args.trace:
            # scaling_eff's N leg: the same job on the same corpus in its
            # own local[1] process, with no RSS sampling thread. It sets
            # up on all four CPUs (a cold JVM on one CPU takes 30 s) and
            # pins itself, the JVM and the Python worker to one CPU for
            # half of --seconds (keeps a traced run inside its time).
            res["scale_reps"] = run_leg(dict(
                spec, cores=1, t0=time.time(), trace=False,
                sample_rss=False, inputs=res["inputs"],
                pin_cpu=allowed[CORES - 1], budget_s=args.seconds / 2,
                min_reps=SCALE_MIN_REPS,
            ), set(allowed[:CORES]), deadline)["reps"]
        reps = res["reps"] + res.get("scale_reps", [])
        if args.trace:
            reps.append(res["traced"])
        attempted = sum(r["attempted"] for r in reps)
        failed = sum(r["failed"] for r in reps)
        if args.trace:
            figures = per_layer(res)
            metrics = figures
            kept = keep_trace(res["traced"], os.path.join(
                ROOT, ".perfbench_work", "trace", name))
        else:
            figures = summary(res, failed, attempted)
            metrics = {k: figures[k] for k in END_TO_END}
            kept = {}
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for r in reps:
        r.pop("pipeline", None)
        r.pop("layers", None)
    print(json.dumps({"report": {
        "workload": args.workload, "seed": args.seed, "host": host,
        "loadavg_before": load_before, "loadavg_after": loadavg(),
        "failed_frac": failed / attempted, "setup_s": res["setup_s"],
        "digest": res["inputs"]["digest"], "trace_files": kept,
        "reps": res["reps"], "scale_reps": res.get("scale_reps", []),
    }}))
    print(f"{args.workload} seed={args.seed}: {failed} of {attempted} "
          "documents failed", file=sys.stderr)
    for k, (v, unit) in figures.items():
        print(f"  {k:40s} {v:16.6f} {unit}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit}
                    for k, (v, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

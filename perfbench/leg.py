"""The Spark side of one benchmark run.

``python3 perfbench/leg.py SPEC.json RESULT.json`` is started by ``run.py``
pinned to ``cores`` CPUs, or, with ``pin_cpu``, pinned to that one CPU
once set-up is done. It sets the workload up once (new
``local[cores]`` session, corpus generation unless the spec hands it an
earlier leg's ``inputs``, one untimed warm-up job) and repeats the public
entry point on fresh output paths until ``budget_s`` is spent. With
``trace`` it then runs one event-logged repetition and the serial span
pass. Every output is checked against its golden or oracle outside the
timed region; the result is written as JSON.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import corpora  # noqa: E402
from host import RssSampler, pin_tree  # noqa: E402

TEXTOPS_QUERIES = ("exact_dups", "minhash_lsh_pairs", "jaccard_verified",
                   "simhash_candidates", "lang_id", "doc_stats")


def new_session(spec: dict, cores: int, event_dir: str | None = None):
    from pyspark.sql import SparkSession
    from scribe_js_spark.pipeline import session_conf

    work = spec["work"]
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"perfbench-{spec['workload']}")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", spec["driver_memory"])
        # The same shuffle width at every core count, so the N and 4N
        # legs of scaling_eff run the same plan.
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # GC and JIT threads sized to the leg's cores, also when the JVM
        # starts on more CPUs than the leg is later pinned to.
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-XX:ActiveProcessorCount={cores}")
        .config("spark.eventLog.enabled", str(event_dir is not None).lower())
    )
    if event_dir is not None:
        builder = (builder.config("spark.eventLog.dir", event_dir)
                   .config("spark.eventLog.compress", "false")
                   .config("spark.eventLog.rolling.enabled", "false"))
    spark = session_conf(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def log(spec: dict, what: str) -> None:
    """One progress line (to run.py's stderr) with the time since t0."""
    print(f"leg local[{spec['cores']}]: {what} at "
          f"{time.time() - spec['t0']:.1f} s", flush=True)


# ------------------------------------------------------------- inputs


def write_inputs(workload: str, seed: int, dest: str) -> dict:
    """Generate the workload's corpus into ``dest``; returns the paths
    and the goldens (kept in this process, apart from program inputs)."""
    os.makedirs(dest, exist_ok=True)
    if workload == "textops_dedup":
        rows = corpora.textops_documents(seed)
        corpora.write_documents(rows, os.path.join(dest, "documents.parquet"))
        return {"dir": dest, "docs": len(rows),
                "digest": corpora.digest(rows)}
    rows, golden, prior_urls = corpora.crawl_corpus(seed)
    paths = {"dir": dest, "docs": len(rows), "digest": corpora.digest(rows),
             "input": os.path.join(dest, "input.parquet"),
             "golden": os.path.join(dest, "golden.parquet"),
             "half": os.path.join(dest, "half.parquet"),
             "prior_urls": prior_urls}
    corpora.write_extraction(rows, golden, paths["input"], paths["golden"])
    done = set(prior_urls)
    corpora.write_extraction([r for r in rows if r["url"] in done], {},
                             paths["half"])
    return paths


def load_golden(path: str) -> dict:
    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pydict()
    return dict(zip(t["url"], t["text"]))


# -------------------------------------------------------- extraction


def check_extraction(out: str, run_id: str, expected: dict) -> dict:
    """Compare this run's committed rows and sidecar with the goldens."""
    import pyarrow.parquet as pq

    t = pq.read_table(out, columns=["url", "text", "error", "run_id"])
    rows = [r for r in t.to_pylist() if r["run_id"] == run_id]
    errors = sum(r["error"] is not None for r in rows)
    seen = {r["url"] for r in rows}
    mismatched = sum(r["error"] is None and r["text"] != expected.get(r["url"])
                     for r in rows)
    missing = len(set(expected) - seen)
    extra = len(rows) - len(seen & set(expected))
    side = pq.read_table(out + "_metrics").to_pylist()
    side = [s for s in side if s["run_id"] == run_id]
    sidecar_ok = (len(side) == 1 and side[0]["docs_total"] == len(rows)
                  and side[0]["docs_failed"] == errors)
    return {"rows": len(rows), "ok": len(rows) - errors - mismatched,
            "errors": errors, "mismatched": mismatched, "missing": missing,
            "extra": extra, "sidecar_ok": sidecar_ok,
            "failed": errors + mismatched + missing + extra
            + (0 if sidecar_ok else 1)}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def extraction_rep(spark, spec, inputs, golden, k, rss) -> dict:
    from scribe_js_spark.pipeline import run_extraction_job

    out = os.path.join(spec["work"], "out", f"rep{k}")
    shutil.rmtree(os.path.dirname(out), ignore_errors=True)
    os.makedirs(os.path.dirname(out))
    # Restore the output of the interrupted run this job resumes from.
    shutil.copytree(inputs["prior"], out)
    shutil.copytree(inputs["prior"] + "_metrics", out + "_metrics")
    done = set(inputs["prior_urls"])
    expected = {u: t for u, t in golden.items() if u not in done}
    base_bytes = dir_bytes(os.path.dirname(out))
    run_id = f"rep{k}"
    rss.begin()
    t0 = time.perf_counter()
    run_extraction_job(spark, inputs["input"], out, run_id)
    wall = time.perf_counter() - t0
    worker_mb, spark_mb = rss.end()
    chk = check_extraction(out, run_id, expected)
    return {"wall_s": wall, "docs_ok": chk["ok"], "attempted": len(expected),
            "failed": chk["failed"], "worker_rss_mb": worker_mb,
            "spark_rss_mb": spark_mb, "check": chk,
            "out_mb": (dir_bytes(os.path.dirname(out)) - base_bytes) / 1e6,
            "resume_skipped": inputs["docs"] - len(expected)}


class DriverParts:
    """Times the public parts of ``run_extraction_job`` from outside:
    until ``extract_text`` returns (plan), from there until
    ``extraction_metrics`` is called (write + re-read), and from there
    until the job returns (sidecar)."""

    def __init__(self):
        self.marks: dict[str, float] = {}

    def __enter__(self):
        import scribe_js_spark.pipeline as pipeline

        self._mod = pipeline
        self._orig = (pipeline.extract_text, pipeline.extraction_metrics)
        extract_text, extraction_metrics = self._orig

        def timed_extract_text(*a, **kw):
            out = extract_text(*a, **kw)
            self.marks["planned"] = time.perf_counter()
            return out

        def timed_metrics(*a, **kw):
            self.marks["written"] = time.perf_counter()
            return extraction_metrics(*a, **kw)
        pipeline.extract_text = timed_extract_text
        pipeline.extraction_metrics = timed_metrics
        self.marks["start"] = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.marks["end"] = time.perf_counter()
        self._mod.extract_text, self._mod.extraction_metrics = self._orig

    def seconds(self) -> dict:
        m = self.marks
        return {"plan_s": m["planned"] - m["start"],
                "write_s": m["written"] - m["planned"],
                "sidecar_s": m["end"] - m["written"]}


# ------------------------------------------------------------ textops


def textops_registry():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    import __spark_entry__

    return __spark_entry__


def release_cached(spark) -> int:
    """Unpersist every RDD still cached; returns how many there were."""
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs()
    n = persisted.size()
    spark.catalog.clearCache()
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    return n


def textops_rep(spark, sf_dir: str, n_docs: int, rss) -> dict:
    reg = textops_registry().queries()
    per_query = {}
    results = {}
    rss.begin()
    t0 = time.perf_counter()
    for name in TEXTOPS_QUERIES:
        q0 = time.perf_counter()
        df = reg[name](spark, sf_dir)
        q1 = time.perf_counter()
        results[name] = df.toPandas()
        q2 = time.perf_counter()
        per_query[name] = {"build_s": q1 - q0, "exec_s": q2 - q1,
                           "rows": len(results[name])}
    wall = time.perf_counter() - t0
    worker_mb, spark_mb = rss.end()
    persisted = release_cached(spark)
    return {"wall_s": wall, "docs_ok": n_docs, "attempted": n_docs,
            "worker_rss_mb": worker_mb, "spark_rss_mb": spark_mb,
            "queries": per_query,
            "persisted_left": persisted, "results": results}


def normalize(pdf):
    """Order-insensitive, dtype-insensitive form of a result frame."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        kind = pdf[c].dtype.kind
        if kind == "O":
            pdf[c] = pdf[c].astype(str)
        elif kind == "f":
            pdf[c] = pdf[c].round(9)
        elif kind in "iu":
            pdf[c] = pdf[c].astype("int64")
        elif kind == "b":
            pdf[c] = pdf[c].astype(bool)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def oracle_results(sf_dir: str) -> dict:
    import duckdb

    oracles = textops_registry().oracle_sql()
    con = duckdb.connect()
    try:
        path = os.path.join(sf_dir, "documents.parquet").replace("'", "''")
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{path}')")
        return {q: normalize(con.sql(oracles[q]).df())
                for q in TEXTOPS_QUERIES}
    finally:
        con.close()


def textops_mismatches(results: dict, oracle: dict) -> list[str]:
    bad = []
    for name, got in results.items():
        g, e = normalize(got), oracle[name]
        if list(g.columns) != list(e.columns) or not g.equals(e):
            bad.append(name)
    return bad


# --------------------------------------------------------------- main


def run_reps(spark, spec, inputs, golden, rss):
    reps = []
    start = time.perf_counter()
    while (len(reps) < spec["min_reps"]
           or time.perf_counter() - start < spec["budget_s"]):
        if spec["workload"] == "textops_dedup":
            reps.append(textops_rep(spark, inputs["dir"], inputs["docs"],
                                    rss))
        else:
            reps.append(extraction_rep(spark, spec, inputs, golden,
                                       len(reps), rss))
    return reps


def set_up(spark, spec, inputs, golden) -> None:
    """Warm the session up with one untimed job, so the JIT and every
    Python worker are warm before the first timed repetition. For
    crawl_mix that job runs over the prior urls (every converter family,
    no huge document); the first time, its output is kept as the prior
    output of the interrupted run every repetition resumes from."""
    if spec["workload"] == "textops_dedup":
        reg = textops_registry().queries()
        for name in TEXTOPS_QUERIES:
            reg[name](spark, inputs["dir"]).toPandas()
        release_cached(spark)
        return
    from scribe_js_spark.pipeline import run_extraction_job

    if "prior" in inputs:
        warm = os.path.join(spec["work"], "warm-out", str(time.time_ns()))
        run_extraction_job(spark, inputs["half"], warm, "warm")
        return
    prior = os.path.join(inputs["dir"], "prior")
    run_extraction_job(spark, inputs["half"], prior, "prior")
    chk = check_extraction(prior, "prior", {
        u: golden[u] for u in inputs["prior_urls"]})
    if chk["failed"]:
        raise RuntimeError(f"prior output is not golden: {chk}")
    inputs["prior"] = prior


def main(spec_path: str, out_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(spec["work"], d), exist_ok=True)
    rss = RssSampler(os.getpid())
    if spec["sample_rss"]:
        rss.start()
    spark = None
    result = {}
    try:
        spark = new_session(spec, spec["cores"])
        log(spec, "session started")
        inputs = spec.get("inputs") or write_inputs(
            spec["workload"], spec["seed"], os.path.join(spec["work"], "in"))
        log(spec, "inputs ready")
        golden = (None if spec["workload"] == "textops_dedup"
                  else load_golden(inputs["golden"]))
        set_up(spark, spec, inputs, golden)
        result.update(setup_s=time.time() - spec["t0"], inputs=inputs)
        log(spec, "set up")
        if "pin_cpu" in spec:
            pin_tree(os.getpid(), {spec["pin_cpu"]})
        result["reps"] = run_reps(spark, spec, inputs, golden, rss)
        spark.stop()
        spark = None
        log(spec, f"{len(result['reps'])} repetitions done")
        if spec["trace"]:
            result["traced"] = traced(spec, inputs, golden, rss)
            log(spec, "traced repetition and span pass done")
        if spec["workload"] == "textops_dedup":
            oracle = oracle_results(inputs["dir"])
            traced_rep = [result["traced"]] if spec["trace"] else []
            for rep in result["reps"] + traced_rep:
                rep["mismatched"] = textops_mismatches(rep.pop("results"),
                                                       oracle)
                rep["failed"] = len(rep["mismatched"])
    finally:
        if spark is not None:
            spark.stop()
        rss.close()
    with open(out_path, "w") as f:
        json.dump(result, f)


def traced(spec, inputs, golden, rss) -> dict:
    """One event-logged repetition (after a warm-up job in the same
    session), then the serial span pass over the same documents."""
    import eventlog

    ev_dir = os.path.join(spec["work"], "eventlog")
    os.makedirs(ev_dir, exist_ok=True)
    spark = new_session(spec, spec["cores"], event_dir=ev_dir)
    try:
        set_up(spark, spec, inputs, golden)
        app_id = spark.sparkContext.applicationId
        t_from = int(time.time() * 1000)
        if spec["workload"] == "textops_dedup":
            rep = textops_rep(spark, inputs["dir"], inputs["docs"], rss)
        else:
            with DriverParts() as parts:
                rep = extraction_rep(spark, spec, inputs, golden, 999, rss)
            rep.update(parts.seconds())
        t_to = int(time.time() * 1000)
    finally:
        spark.stop()
    log(spec, "traced repetition done")
    rep["pipeline"] = eventlog.pipeline_metrics(
        os.path.join(ev_dir, app_id), t_from, t_to, spec["cores"])
    rep["eventlog"] = os.path.join(ev_dir, app_id)
    if spec["workload"] != "textops_dedup":
        import spans

        rows, _, _ = corpora.crawl_corpus(spec["seed"])
        done = set(inputs["prior_urls"])
        tracer, results = spans.run_pass(
            [r for r in rows if r["url"] not in done])
        rep["layers"] = spans.layer_metrics(tracer, results)
        rep["spans"] = os.path.join(spec["work"], "spans.jsonl")
        tracer.write(rep["spans"])
    return rep


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])

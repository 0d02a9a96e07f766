"""Benchmark of the production staged KG job, ``plans.stages.run_pipeline``.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 18 --trace 0

Runs from the root of a checkout, in one process with ``local[<cpus>]``.
The pages come from ``perfbench/gen.py`` (a pure function of workload and
seed) as multi-file parquet under ``.perfbench/data``; the job reads them
through ``sources.pages.read_pages``. Closed loop, one client: one job at
a time. The first job of the session is the cold job; later jobs run warm
until ``--seconds`` have passed, and at least MIN_WARM of them.

- ``crawl_bulk`` and ``crawl_delta``: every job writes a fresh output
  directory.
- ``crawl_resume``: the cold job is one full run; each warm job deletes
  the five tail stage tables and resumes.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs one
untimed warm job, then an untraced, a traced and another untraced warm
job; it prints the per-layer metrics and writes the spans and metrics to
``.perfbench/traces/``.

Every job's ``triples``/``nodes``/``edges`` digest must match the
workload's first job, and the first job must reach triple P and R of at
least 0.95 against the reference pipeline. A failure makes ``correct``
false and the exit code 1. The last line of stdout is the JSON result.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gate, gen  # noqa: E402
from perfbench import trace as tr  # noqa: E402
from perfbench.spark_env import (cpus, prepare_env, start_session,  # noqa: E402
                                 stop_session)

WORK = os.path.join(ROOT, ".perfbench")
TAIL_STAGES = ("triples", "linked", "components", "nodes", "edges")
SETUP_SAMPLES = 3
MIN_WARM = 2  # so the median of warm jobs never rests on one job

END_TO_END = {
    "job_s": "s", "docs_per_s": "1/s", "cold_job_s": "s", "setup_s": "s",
    "peak_rss_mb": "MB", "stage_bytes_per_doc": "B",
}
PER_LAYER = {
    **{f"stage.{s}.self_s": "s" for s in gate.STAGES},
    "stages.lineage_s": "s", "stages.manifest_s": "s",
    "stages.bookkeeping_s": "s", "stages.skipped_read_s": "s",
    "stages.jobs": "count", "stages.bytes_written": "B",
    "stages.files_written": "count",
    "pages.scan_bytes": "B", "pages.scan_s": "s",
    "ner.py_run_s": "s", "ner.py_start_s": "s", "ner.py_init_s": "s",
    "ner.py_bytes_sent": "B", "ner.py_bytes_returned": "B",
    "ner.task_skew": "ratio", "ner.mentions_per_doc": "count",
    "pairs.candidate_rows": "count", "pairs.exchanges": "count",
    "pairs.shuffle_bytes": "B",
    "relations.keep_ratio": "ratio",
    "triples.dedup_ratio": "ratio", "triples.shuffle_bytes": "B",
    "linking.components_s": "s", "linking.components_jobs": "count",
    "linking.unlinked_share": "ratio", "linking.edges_shuffle_bytes": "B",
    "spark.shuffle_bytes": "B", "spark.shuffle_records": "count",
    "spark.spill_bytes": "B", "spark.peak_memory_bytes": "B",
    "trace.job_s": "s", "trace.untraced_job_s": "s",
    "trace.overhead_share": "ratio",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- memory

def _tree_pss(root_pid: int) -> int:
    """Proportional set size, in bytes, of every process below
    ``root_pid`` (the JVM and the Python workers it forks), not counting
    ``root_pid`` itself. PSS splits pages shared between the forked
    workers, so a shared page is counted once."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak of the summed proportional resident size of this process's
    descendants, sampled every ``period`` seconds on a background thread."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_pss(pid))
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------- jobs

class Bench:
    """Runs the jobs of one workload and checks each."""

    def __init__(self, spark, workload: str, pages_path: str):
        self.spark = spark
        self.workload = workload
        self.pages_path = pages_path
        self.out_root = os.path.join(WORK, "run")
        self.attempted = 0
        self.failed = 0
        self.first_digest: str | None = None
        self.n_jobs = 0
        self.out_dir = ""

    def fail(self, msg: str) -> None:
        self.failed += 1
        log(f"FAILED: {msg}")

    def _job(self, out_dir: str) -> tuple[float, list[dict]]:
        from ehr_relation_extraction_spark.plans.stages import run_pipeline
        from ehr_relation_extraction_spark.sources.pages import read_pages

        run_id = f"j{self.n_jobs}"
        self.n_jobs += 1
        t = time.perf_counter()
        frames = run_pipeline(self.spark, read_pages(self.spark, self.pages_path),
                              out_dir, run_id=run_id)
        return time.perf_counter() - t, frames["_runner"].events

    def prepare(self) -> str:
        """Set up the output directory of the next job, untimed."""
        if self.workload == "crawl_resume" and self.first_digest is not None:
            for stage in TAIL_STAGES:
                shutil.rmtree(os.path.join(self.out_dir, stage))
        else:
            if self.out_dir:
                shutil.rmtree(self.out_dir, ignore_errors=True)
            self.out_dir = os.path.join(self.out_root, f"job{self.n_jobs}")
            shutil.rmtree(self.out_dir, ignore_errors=True)
        return self.out_dir

    def job(self, tracer: tr.Tracer | None = None) -> dict | None:
        """Run one job and check it; returns its record, or None when it
        failed."""
        out_dir = self.prepare()
        self.attempted += 1
        resumed = self.first_digest is not None and self.workload == "crawl_resume"
        try:
            if tracer is None:
                wall, events = self._job(out_dir)
            else:
                wall, events = self._traced_job(out_dir, tracer)
        except Exception:  # a failed job is counted, the run goes on
            self.fail(f"job {self.n_jobs - 1} raised\n{traceback.format_exc()}")
            return None
        actions = {e["stage"]: e["action"] for e in events}
        expect = {s: ("ran" if not resumed or s in TAIL_STAGES else "skipped")
                  for s in gate.STAGES}
        if actions != expect:
            self.fail(f"stage actions {actions}, expected {expect}")
            return None
        d = gate.digest(out_dir)
        if self.first_digest is None:
            self.first_digest = d
        elif d != self.first_digest:
            self.fail(f"digest {d} differs from the first job's {self.first_digest}")
            return None
        written = [s for s, a in actions.items() if a == "ran"]
        files = [f for s in written
                 for f in gate.data_files(os.path.join(out_dir, s))]
        return {"wall": wall, "out_dir": out_dir,
                "bytes": sum(os.path.getsize(f) for f in files),
                "files": len(files)}

    def _traced_job(self, out_dir: str, tracer: tr.Tracer):
        tracer.trace_id = f"t{self.n_jobs}"
        uninstall = tr.install(tracer, self.spark.sparkContext)
        try:
            with tracer.span("job"), tr.job_group(
                    self.spark.sparkContext, tr.group_name(tracer.trace_id, "job")):
                return self._job(out_dir)
        finally:
            uninstall()

    def check_reference(self, pages: list[dict], out_dir: str) -> None:
        p, r = gate.triple_prf(out_dir, gate.reference_triples(pages))
        log(f"triple P={p:.4f} R={r:.4f} against the reference pipeline")
        if p < gate.MIN_PR or r < gate.MIN_PR:
            self.fail(f"triple P={p:.4f} R={r:.4f} below {gate.MIN_PR}")


def start_probes() -> list[subprocess.Popen]:
    """Start SETUP_SAMPLES - 1 set-ups in fresh processes. They run at the
    same time as this process's own set-up, which keeps a run short."""
    return [subprocess.Popen(
        [sys.executable, os.path.join(HERE, "setup_probe.py"), WORK],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        for _ in range(SETUP_SAMPLES - 1)]


def probe_samples(probes: list[subprocess.Popen]) -> list[float]:
    """Wait for every probe; the set-up seconds of those that succeeded."""
    out = []
    for p in probes:
        try:
            stdout, _ = p.communicate(timeout=120)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            continue
        if p.returncode == 0:
            out.append(json.loads(stdout.strip().splitlines()[-1])["setup_s"])
    return out


# ---------------------------------------------------------------- metrics

def layer_metrics(spark, tracer: tr.Tracer, rec: dict,
                  n_pages: int) -> dict[str, float]:
    """Per-layer metrics of the traced job ``rec``; reads its output
    directory, so it runs before the next job replaces it."""
    spans = [s for s in tracer.spans if s["trace"] == tracer.trace_id]
    selfs = tr.self_times(spans)
    m: dict[str, float] = {}
    by_stage = {s["stage"]: s for s in spans if s["name"] == "stages.run"}
    for stage in gate.STAGES:
        m[f"stage.{stage}.self_s"] = selfs[by_stage[stage]["id"]]

    def total(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    cc = [s for s in spans if s["name"] == "linking.canonical_components"]
    m["stages.lineage_s"] = total("stages.lineage")
    m["stages.manifest_s"] = total("stages.manifest")
    m["linking.components_s"] = sum(selfs[s["id"]] for s in cc)
    m["stages.bookkeeping_s"] = (rec["wall"] - m["linking.components_s"]
                                 - sum(m[f"stage.{s}.self_s"] for s in gate.STAGES))
    m["stages.skipped_read_s"] = sum(
        s["end"] - s["start"] for s in by_stage.values()
        if s.get("action") == "skipped")
    m["stages.bytes_written"] = rec["bytes"]
    m["stages.files_written"] = rec["files"]

    st = tr.SparkStats(spark)
    st.drain()
    tid = tracer.trace_id
    groups = {"job": [tr.group_name(tid, "job")]}
    for stage in gate.STAGES:
        groups[stage] = [tr.group_name(tid, stage)]
        groups[f"{stage}:lineage"] = [tr.group_name(tid, stage, "lineage")]
    groups["components"].append(tr.group_name(tid, "components", "fixpoint"))
    jobs = {k: sorted({j for g in v for j in st.jobs(g)}) for k, v in groups.items()}
    all_jobs = sorted({j for v in jobs.values() for j in v})
    m["stages.jobs"] = len(all_jobs)
    m["linking.components_jobs"] = len(jobs["components"])

    def stages_of(*keys):
        return st.stages(sorted({j for k in keys for j in jobs[k]}))

    def shuffle_bytes(*keys):
        return sum(s["shuffleWriteBytes"] for s in stages_of(*keys))

    everything = st.stages(all_jobs)
    m["spark.shuffle_bytes"] = sum(s["shuffleWriteBytes"] for s in everything)
    m["spark.shuffle_records"] = sum(s["shuffleWriteRecords"] for s in everything)
    m["spark.spill_bytes"] = sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                 for s in everything)
    m["spark.peak_memory_bytes"] = max(
        (s["peakExecutionMemory"] for s in everything), default=0)
    m["pairs.shuffle_bytes"] = shuffle_bytes("candidates")
    m["triples.shuffle_bytes"] = shuffle_bytes("triples")
    m["linking.edges_shuffle_bytes"] = shuffle_bytes("edges")

    mention_stages = stages_of("mentions")
    skew = 0.0
    if mention_stages:
        busiest = max(mention_stages, key=lambda s: s["executorRunTime"])
        durs = st.task_durations(busiest)
        if durs and statistics.median(durs) > 0:
            skew = max(durs) / statistics.median(durs)
    m["ner.task_skew"] = skew

    def node_sum(keys, prefix, metric):
        nodes = st.sql_nodes({g for k in keys for g in groups[k]})
        return sum(n["metrics"].get(metric, 0.0) for n in nodes
                   if n["name"].startswith(prefix))

    m["pages.scan_s"] = node_sum(["pages"], "Scan parquet", "scan time")
    m["pages.scan_bytes"] = node_sum(["pages"], "Scan parquet", "size of files read")
    ner_keys = ["shards", "mentions"]
    m["ner.py_run_s"] = node_sum(ner_keys, "MapInArrow", "time to run Python workers")
    m["ner.py_start_s"] = node_sum(ner_keys, "MapInArrow", "time to start Python workers")
    m["ner.py_init_s"] = node_sum(ner_keys, "MapInArrow",
                                  "time to initialize Python workers")
    m["ner.py_bytes_sent"] = node_sum(ner_keys, "MapInArrow",
                                      "data sent to Python workers")
    m["ner.py_bytes_returned"] = node_sum(ner_keys, "MapInArrow",
                                          "data returned from Python workers")
    m["pairs.exchanges"] = sum(
        1 for n in st.sql_nodes(set(groups["candidates"]))
        if n["name"].startswith("Exchange"))

    out = rec["out_dir"]
    rows = {s: gate.stage_rows(out, s)
            for s in ("mentions", "candidates", "relations", "triples")}
    m["ner.mentions_per_doc"] = rows["mentions"] / n_pages
    m["pairs.candidate_rows"] = rows["candidates"]
    m["relations.keep_ratio"] = rows["relations"] / max(rows["candidates"], 1)
    m["triples.dedup_ratio"] = rows["triples"] / max(rows["relations"], 1)
    canon = gate.read_stage(out, "linked", ["canonical_id"]).column(0).to_pylist()
    m["linking.unlinked_share"] = (sum(c.startswith("surface:") for c in canon)
                                   / max(len(canon), 1))
    m["trace.job_s"] = rec["wall"]
    return m


# ---------------------------------------------------------------- main

def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main() -> int:
    args = parse_args()
    prepare_env(ROOT, WORK)
    probes = start_probes() if not args.trace else []
    try:
        spark = start_session(WORK)
        setups = [time.perf_counter() - T0]
    except ImportError as e:
        log(f"the program is not importable from {ROOT}: {e}")
        return 2
    finally:
        probe_setups = probe_samples(probes)
    setups += probe_setups
    try:
        return measure(spark, args, setups)
    finally:
        stop_session(spark)
        shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)


def measure(spark, args, setups: list[float]) -> int:
    pages_path, pages = gen.cached_pages(os.path.join(WORK, "data"),
                                         args.workload, args.seed)
    n = len(pages)
    b = Bench(spark, args.workload, pages_path)
    log(f"{args.workload} seed={args.seed}: {n} pages, "
        f"{sum(len(p['text']) for p in pages)} chars, local[{cpus()}]")

    with RssSampler() as rss:
        cold = b.job()
        if cold is not None:
            b.check_reference(pages, cold["out_dir"])
        warm: list[dict] = []
        metrics: dict[str, float] = {}
        if cold is not None and args.trace:
            # warm up, then untraced / traced / untraced: warm jobs still
            # speed up from one to the next, so the traced job is compared
            # with the mean of its two neighbours
            tracer = tr.Tracer()
            before = b.job() and b.job()
            traced = before and b.job(tracer)
            if traced:
                metrics = layer_metrics(spark, tracer, traced, n)
                after = b.job()
                if after:
                    untraced = (before["wall"] + after["wall"]) / 2
                    metrics["trace.untraced_job_s"] = untraced
                    metrics["trace.overhead_share"] = traced["wall"] / untraced - 1.0
        elif cold is not None:
            t_loop = time.perf_counter()
            while (len(warm) < MIN_WARM
                   or time.perf_counter() - t_loop < args.seconds):
                rec = b.job()
                if rec is None:
                    break
                warm.append(rec)

    if args.trace and metrics:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces",
                               f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "cpus": cpus(), "pages": n, "spans": tracer.spans,
                       "metrics": metrics}, f, indent=1)
    elif not args.trace and warm:
        walls = [r["wall"] for r in warm]
        job_s = statistics.median(walls)
        metrics = {
            "job_s": job_s,
            "docs_per_s": n / job_s,
            "cold_job_s": cold["wall"],
            "setup_s": statistics.median(setups),
            "peak_rss_mb": rss.peak / 1e6,
            "stage_bytes_per_doc": statistics.median(r["bytes"] for r in warm) / n,
        }
        log(f"{len(walls)} warm jobs: {[round(w, 3) for w in walls]}; "
            f"setup samples {[round(s, 3) for s in setups]}; no tail "
            f"percentile has 10 samples beyond it at this count")

    names = PER_LAYER if args.trace else END_TO_END
    if not args.trace and len(setups) < SETUP_SAMPLES:
        b.fail(f"only {len(setups)} of {SETUP_SAMPLES} set-ups succeeded")
    correct = b.failed == 0 and set(metrics) == set(names)
    for name, unit in names.items():
        if name in metrics:
            print(f"{args.workload} {name} = {metrics[name]:.6g} {unit}")
    print(json.dumps({
        "correct": correct, "attempted": max(b.attempted, 1),
        "failed": b.failed if b.attempted else 1,
        "metrics": {k: {"value": metrics[k], "unit": names[k]}
                    for k in names if k in metrics},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
